package graft
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Evidence supplement for q139/q142's lexical arm (r18): the postings
  * checkpoint added this round truncates the final executed plan, so the
  * `Probe --explain` after-dumps no longer show the corpus-side build. This main
  * prints the PRE-checkpoint postings frame — the subtree where the corpus
  * token explode meets the broadcast query-term filter — exactly as
  * lexicalScored builds it. Usage:
  *   Test/runMain graft.DumpLex139 <sfDir> <outFile>
  */
object DumpLex139 {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val spark = Session.build("8", Some("ERROR"))
    import graft.operators.TextOps
    import graft.functions.PortableHash.tokens
    val sb = new StringBuilder
    val d = Tables.documents(spark, dir)
    // the same frames lexicalScored builds, stopped BEFORE the checkpoint
    val queries = d.filter(col("doc_id") % TextOps.RetrQueryMod === 0)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(TextOps.RetrQueryCap)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(tokens(lower(col("text"))), 1, TextOps.RetrQueryLen))).as("term"))
      .localCheckpoint()
    val qterms = queries.select(col("term")).distinct()
    val postFrame = d.select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    sb ++= "== postings build (pre-checkpoint) explain(formatted) ==\n"
    sb ++= postFrame.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode) + "\n"
    Files.createDirectories(Paths.get(out).getParent)
    Files.write(Paths.get(out), sb.toString.getBytes("UTF-8"))
    println(s"[dumplex] wrote $out")
    spark.stop()
  }
}
