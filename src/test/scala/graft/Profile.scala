package graft

import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Query profiler on the deployed session ([[LocalSession]]): runs
  * each named SparkEntry query `reps` times, forced with [[Bench.force]]
  * so every output column is computed. Each rep prints wall seconds,
  * the jobs, stages and tasks Spark ran (skipped stages do not count),
  * and the summed job seconds; the last rep adds one line per job with
  * its label and the jobs grouped by label, heaviest first. A label is
  * the job's [[Jobs.labeled]] description, else the call site of the
  * action whose SQL execution ran it (e.g. a `localCheckpoint` inside
  * the query), else its result stage's name.
  *
  * Usage: Test/runMain graft.Profile <q1,q2,…> [sfDir] [reps]
  */
object Profile {

  private case class Job(id: Int, secs: Double, label: String,
      stages: Int, tasks: Int)

  def main(args: Array[String]): Unit = {
    val queries = args(0).split(",").toSeq
    val dir = args.lift(1).getOrElse("perfbench/data/sf0.01")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")

    val executions = TrieMap.empty[String, String]
    val started = TrieMap.empty[Int, (Long, String, Seq[Int])]
    val stageTasks = TrieMap.empty[Int, Int]
    val jobs = TrieMap.empty[Int, Job]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          executions.put(x.executionId.toString, x.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties.getProperty(k))
        val label = prop("spark.job.description")
          .orElse(prop("spark.sql.execution.id").flatMap(executions.get))
          .getOrElse(e.stageInfos.maxBy(_.stageId).name)
        started.put(e.jobId, (System.nanoTime(), label, e.stageIds))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        started.remove(e.jobId).foreach { case (t0, label, stageIds) =>
          val ran = stageIds.flatMap(stageTasks.get)
          jobs.put(e.jobId, Job(e.jobId, (System.nanoTime() - t0) / 1e9,
            label, ran.size, ran.sum))
        }
    })

    for (q <- queries; rep <- 1 to reps) {
      jobs.clear()
      System.gc(); Thread.sleep(300)
      val t0 = System.nanoTime()
      Bench.force(SparkEntry.queries(q)(spark, dir))
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus deliver the last job ends
      val js = jobs.values.toSeq.sortBy(_.id)
      println(f"==== $q rep $rep  wall=$wall%.2f  jobs=${js.size}  " +
        f"stages=${js.map(_.stages).sum}  tasks=${js.map(_.tasks).sum}  " +
        f"jobsec=${js.map(_.secs).sum}%.2f")
      if (rep == reps) {
        js.foreach(j => println(
          f"  job ${j.id}%4d  ${j.secs}%7.3f  stages=${j.stages}%-3d tasks=${j.tasks}%-5d ${j.label}"))
        println("  -- by label --")
        js.groupBy(_.label).toSeq
          .map { case (l, g) => (l, g.size, g.map(_.secs).sum) }
          .sortBy(-_._3)
          .foreach { case (l, n, t) => println(f"  $t%7.2f  n=$n%-3d  $l") }
      }
    }
    spark.stop()
  }
}
