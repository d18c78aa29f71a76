package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for every SparkEntry query to a directory —
  * the feedback loop for plan tuning (pushdown, pruning, broadcast choice,
  * shuffle count). Usage: `runMain graft.Plans <sfDir> <outDir> [names...]`
  * (names restrict the dump to those queries — Verify's subset contract). */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession("local[4]", "4")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
      } catch {
        case e: Throwable =>
          Files.writeString(Paths.get(s"$outDir/$name.txt"), s"ERROR: ${e.getMessage}")
      }
      }
    spark.stop()
  }
}
