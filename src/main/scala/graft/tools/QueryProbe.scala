package graft.tools

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Diagnostic: run one SparkEntry query by name with a stage-level listener,
  * printing per-stage wall time, task time, and task count — pinpoints which
  * exchange/stage dominates a slow gate query.
  * Usage: runMain graft.tools.QueryProbe <queryName> [sfDir] [runs]; runs
  * `local[SPARK_GRAFT_CPUS]` (default: the JVM's available processors). */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class St(var wall: Long = 0, var taskMs: Long = 0, var tasks: Int = 0,
                        var name: String = "")
    val stages = mutable.LinkedHashMap.empty[Int, St]
    val submitted = mutable.Map.empty[Int, Long]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        submitted(e.stageInfo.stageId) = System.nanoTime()
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val st = stages.getOrElseUpdate(e.stageInfo.stageId, St())
        st.wall = submitted.get(e.stageInfo.stageId).map(t => (System.nanoTime() - t) / 1000000).getOrElse(-1L)
        st.name = e.stageInfo.name.take(90)
        st.tasks = e.stageInfo.numTasks
      }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val st = stages.getOrElseUpdate(te.stageId, St())
        if (te.taskMetrics != null) st.taskMs += te.taskMetrics.executorRunTime
      }
    })

    val fn = graft.SparkEntry.queries(name)
    (1 to runs).foreach { r =>
      stages.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"RUN $r $name rows=$n wall=$wall%.2f s")
      stages.toSeq.sortBy(-_._2.wall).take(15).foreach { case (id, s) =>
        println(f"  stage $id%4d wall=${s.wall}%6d ms task=${s.taskMs}%7d ms n=${s.tasks}%3d  ${s.name}")
      }
    }
    spark.stop()
  }
}
