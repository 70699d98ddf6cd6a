package graft
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Evidence dump for q138's CHANGED subtrees (VERDICT r17 #1/#6): the
  * localCheckpoint in pageRank truncates lineage, so `Probe --explain`'s dump of
  * the final query shows only the post-checkpoint sort. This main drives the
  * PRODUCTION build helpers ([[graft.operators.Analytics.prEdgeFrames]] /
  * [[graft.operators.Analytics.prEdgeState]] / prIterStep) far enough to
  * print (a) the edge-build phase's plan BEFORE its checkpoint, (b) the
  * layout the checkpoint actually recorded, and (c) the EXECUTED plan of one
  * 4-iteration block. Usage:
  *   Test/runMain graft.DumpPr138 <sfDir> <outFile>
  */
object DumpPr138 {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val spark = Session.build("32", Some("ERROR"))
    val sb = new StringBuilder
    val t0 = System.nanoTime()
    val n = SparkEntry.queries("q138_pagerank")(spark, dir).count()
    sb ++= f"== q138_pagerank full run: ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n ==%n%n"
    import graft.operators.Analytics
    val (_, edgesDegFrame, parts) = Analytics.prEdgeFrames(spark, dir)
    sb ++= s"== pinned edge width (graft.pr.parts derived) = $parts ==\n"
    sb ++= "== edge-build phase (pre-checkpoint) explain(formatted) ==\n"
    sb ++= edgesDegFrame.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode) + "\n"
    val (edgesDeg, nodes, nN, parts2) = Analytics.prEdgeState(spark, dir)
    sb ++= s"== edgesDeg checkpointed: rdd partitions = ${edgesDeg.rdd.getNumPartitions}, " +
      s"logical partitioning = ${edgesDeg.queryExecution.optimizedPlan
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].outputPartitioning} ==\n\n"
    val r0 = Analytics.PrScale / nN
    val base = 15L * r0 / 100L
    var rank = nodes.select(col("src").as("node")).withColumn("rank", lit(r0))
    Analytics.withSessionConf(spark)(
        "spark.sql.shuffle.partitions" -> parts2.toString) {
      for (k <- 1 to 4) {
        val it = Analytics.prIterStep(edgesDeg, rank, base)
        if (k == 4) {
          val tb = System.nanoTime()
          it.collect()
          sb ++= f"== one 4-iteration block executed in ${(System.nanoTime() - tb) / 1e9}%.2f s; EXECUTED plan ==%n"
          sb ++= it.queryExecution.executedPlan.toString + "\n"
        }
        rank = it
      }
    }
    Files.createDirectories(Paths.get(out).getParent)
    Files.write(Paths.get(out), sb.toString.getBytes("UTF-8"))
    println(s"[dump138] wrote $out")
    spark.stop()
  }
}
