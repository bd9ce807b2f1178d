package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup

/** The LSH skew guard ([[Dedup.minhashLshCapped]] /
  * [[Dedup.lshBucketOverflow]]): candidate-join cost is Σ m² over
  * bucket sizes, so one boilerplate mega-bucket is a single-key
  * quadratic no executor count fixes. The guard excludes buckets above
  * the cap from pair enumeration and reports them as audit rows. The
  * DuckDB oracle (`dedup_lsh_capped`) gates the VALUES; these specs pin
  * the algebra between the capped, uncapped, and overflow views. */
class SkewGuardSpec extends AnyFunSuite {
  import TestSpark._

  private val sf = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("an unreachable cap reproduces the uncapped enumeration exactly") {
    val full = pairSet(Dedup.minhashLsh(spark, sf))
    val capped = pairSet(Dedup.minhashLshCapped(spark, sf,
      maxBucket = Int.MaxValue))
    assert(capped == full)
  }

  test("cap=1 enumerates nothing (a singleton bucket has no pairs)") {
    assert(Dedup.minhashLshCapped(spark, sf, maxBucket = 1).isEmpty)
  }

  test("capped pairs are a subset of the full enumeration, and every " +
    "missing pair shares only over-cap buckets") {
    val cap = 4
    val full = pairSet(Dedup.minhashLsh(spark, sf))
    val capped = pairSet(Dedup.minhashLshCapped(spark, sf, maxBucket = cap))
    assert(capped.subsetOf(full))
    // every overflow bucket is genuinely over the cap
    val over = Dedup.lshBucketOverflow(spark, sf, maxBucket = cap)
      .collect().map(_.getLong(2))
    assert(over.nonEmpty && over.forall(_ > cap))
  }

  /** (doc_id, pos = band, col = bkey) rows, banded independently of
    * the operators: the HOF signature and band keys in plain SQL. */
  private def bandedDocs = spark.read.parquet(s"$sf/documents.parquet")
    .withColumn("__toks", array_distinct(split(col("text"), " ")))
    .withColumn("sig", expr(
      """transform(sequence(0, 11),
        |  i -> array_min(transform(__toks,
        |       t -> md5(concat(cast(i as string), ':', t)))))""".stripMargin))
    .select(col("doc_id"), posexplode(expr(
      """transform(sequence(0, 2),
        |  b -> md5(concat_ws('|', slice(sig, b * 4 + 1, 4))))""".stripMargin)))

  test("overflow report matches an independent bucket-size recount") {
    val cap = 4
    val reported = Dedup.lshBucketOverflow(spark, sf, maxBucket = cap)
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2)))
      .toMap
    // independent recount: group the banded explode directly
    val recount = bandedDocs
      .groupBy(col("pos"), col("col")).count()
      .where(col("count") > cap)
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2)))
      .toMap
    assert(reported == recount)
  }

  test("routed dedup sends exactly the over-cap bucket members to the " +
    "cluster route") {
    val cap = 4
    val over = Dedup.lshBucketOverflow(spark, sf, maxBucket = cap)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(over.nonEmpty)
    val members = bandedDocs.collect()
      .filter(r => over((r.getInt(1), r.getString(2))))
      .map(_.getLong(0)).toSet
    val routed = Dedup.minhashDedupRouted(spark, sf, maxBucket = cap)
      .select("doc_id", "route").collect()
    val cluster = routed.filter(_.getString(1) == "cluster")
      .map(_.getLong(0)).toSet
    assert(cluster == members)
    // every document is routed exactly once
    val ids = routed.map(_.getLong(0))
    assert(ids.length == ids.distinct.length &&
      ids.length == Tables.documents(spark, sf).count())
  }

  test("at an unreachable cap the pair route drops exactly the d2 of the " +
    "pairs at or above minEst, each kept by its smallest d1") {
    val minEst = 0.5
    val routed = Dedup.minhashDedupRouted(spark, sf,
        maxBucket = Int.MaxValue, minEst = minEst)
      .collect()
    assert(routed.forall(_.getAs[String]("route") == "pairs"))
    val dropped = routed.filterNot(_.getAs[Boolean]("keep"))
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper")).toMap
    val expected = Dedup.minhashLsh(spark, sf)
      .where(col("est_jaccard") >= minEst)
      .groupBy(col("d2")).agg(min(col("d1"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expected.nonEmpty && dropped == expected)
    assert(routed.filter(_.getAs[Boolean]("keep"))
      .forall(r => r.isNullAt(r.fieldIndex("keeper"))))
  }
}
