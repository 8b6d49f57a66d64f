package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.streaming.StreamingOps

/** Job labels are thread-local and pooled threads outlive the work that
  * set them: [[StreamingOps.labeled]] must leave no label behind. */
class JobLabelSpec extends SparkSpecBase {
  private val desc = "spark.job.description"

  test("labeled clears the job description on the thread it ran on") {
    val pool = Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val sc = spark.sparkContext
    def onPool[A](body: => A): A = Await.result(Future(body), 1.minute)
    try {
      assert(onPool(StreamingOps.labeled(sc, "x")(sc.getLocalProperty(desc))) == "x")
      assert(onPool(sc.getLocalProperty(desc)) == null)
      // A failing body clears its label too.
      intercept[IllegalStateException](
        onPool(StreamingOps.labeled(sc, "y")(throw new IllegalStateException("y"))))
      assert(onPool(sc.getLocalProperty(desc)) == null)
    } finally pool.shutdown()
  }
}
