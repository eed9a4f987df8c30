package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable

/** Optimization-round instrument (guide §1): run named queries through the
  * SAME noop-sink methodology as [[Bench]], but with a stage listener that
  * attributes wall time — per stage: task count, summed executor run time
  * and the stage's own wall time. Also dumps
  * `.explain("formatted")` per query so plan shapes (Exchange count, join
  * strategy, PushedFilters) are inspectable offline.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.BenchProbe q_a,q_b [plansDir]"
  * Measurement-only tooling — never on the query path.
  */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(sys.error("usage: BenchProbe q_a,q_b [plansDir]"))
    val plansDir = args.lift(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    final case class StageRow(id: Int, name: String, tasks: Int,
                              runMs: Long, wallMs: Long)
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val run = si.taskMetrics.executorRunTime
        val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(90),
            si.numTasks, run, wall)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      def exec(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(s"probe:$name")
      val warm = exec() // warmup: plan + codegen + JIT
      stages.synchronized(stages.clear())
      val t = exec()
      val med = exec() // third pass to spot run-to-run variance
      println(f"\n=== $name warm=$warm%.2f measured=$t%.2f repeat=$med%.2f ===")
      val snap = stages.synchronized(stages.toVector)
      val byRun = snap.sortBy(-_.runMs).take(18)
      println(f"${"stage"}%-7s${"tasks"}%6s${"runMs"}%9s${"wallMs"}%9s  name")
      byRun.foreach { s =>
        println(f"${s.id}%-7d${s.tasks}%6d${s.runMs}%9d${s.wallMs}%9d  ${s.name}")
      }
      println(s"stages=${snap.size} totalTasks=${snap.map(_.tasks).sum} " +
        s"sumRunMs=${snap.map(_.runMs).sum} sumWallMs=${snap.map(_.wallMs).sum}")
      plansDir.foreach { dir =>
        val p = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(p)
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(p.resolve(s"$name.txt"), plan)
      }
    }
    spark.stop()
  }
}
