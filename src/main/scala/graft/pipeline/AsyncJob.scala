package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors, Future, ThreadFactory}
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Asynchronous job submission + sensor seam (SURVEY.md §2.3 O4/O5).
  *
  * The reference submits its Spark job with `asynchronous=True` and gates
  * downstream tasks on a sensor polling the job state every 15 s
  * (k8s/dags/etl-gcp-vinicius-campos.py:98-116: submit :105, sensor
  * poke_interval :114). In-process the two collapse *operationally* into
  * submit-on-a-thread + poll-until-terminal, but the seam is kept: the
  * submit task returns a [[JobHandle]] immediately and a separate sensor
  * task owns completion — so swapping the thread pool for a cluster REST
  * submit (or the sensor for a remote poll) changes nothing in the DAG.
  */
final class JobHandle[A] private[pipeline] (fut: Future[A]) {
  /** Terminal? (success OR failure — the sensor distinguishes via await.) */
  def isDone: Boolean = fut.isDone

  /** Result after completion; rethrows the job's own failure. */
  def await(): A =
    try fut.get()
    catch { case e: ExecutionException => throw e.getCause }
}

object AsyncJob {

  private lazy val pool = Executors.newCachedThreadPool(new ThreadFactory {
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "graft-async-job")
      t.setDaemon(true)
      t
    }
  })

  /** Submit `body` and return immediately (reference `asynchronous=True`).
    * With a Spark session in scope, `body` runs under the submitting
    * thread's active session and Spark local properties (job group,
    * scheduler pool, job description), captured at submit time: a pooled
    * thread otherwise keeps the properties it inherited when it was
    * created, and its jobs escape the caller's job group — cancelling
    * the group would not reach them.
    */
  def submit[A](body: => A): JobHandle[A] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s: classic.SparkSession) =>
        new JobHandle(SQLExecution.withThreadLocalCaptured(s, pool)(body))
      case _ =>
        new JobHandle(pool.submit(new Callable[A] { override def call(): A = body }))
    }

  /** Sensor loop: poll every `pollMs` until the job is terminal (reference
    * poke_interval = 15 000 ms), then surface its outcome — a failed job
    * fails the *sensor* task, which is what gates the downstream DAG.
    */
  def awaitDone[A](h: JobHandle[A], pollMs: Long, timeoutMs: Long): A = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!h.isDone) {
      if (System.nanoTime() >= deadline)
        throw new IllegalStateException(s"job sensor timed out after $timeoutMs ms")
      Thread.sleep(pollMs)
    }
    h.await()
  }
}
