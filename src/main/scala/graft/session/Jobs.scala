package graft.session

/** Driver-side job overlap. */
private[graft] object Jobs {

  /** Run `a` on the calling thread and `b` on a second thread at the
    * same time — two independent Spark jobs, so the smaller one fills
    * the larger one's task tail instead of the two running end to end.
    * Both always finish before this returns, even when one fails, so
    * no write outlives the call; then `a`'s failure, else `b`'s, is
    * rethrown. */
  def concurrently[A, B](a: => A, b: => B): (A, B) = {
    val fb = new java.util.concurrent.FutureTask[B](() => b)
    val t = new Thread(fb, "graft-concurrently")
    t.setDaemon(true)
    t.start()
    val ra = try Right(a) catch { case e: Throwable => Left(e) }
    val rb =
      try Right(fb.get())
      catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) }
    (ra.fold(throw _, identity), rb.fold(throw _, identity))
  }
}
