package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import graft.analytics.{Relational, Tables}

/** Derived state follows the tables it is derived from. q35 reads the
  * bucketed fact tables and q38 the memoized pagerank edge state; both are
  * built from orders and lineitem, so regenerating those two tables under
  * a live session must rebuild that state rather than serve the old
  * answer. */
class StalenessSpec extends SparkSpec {

  private val small = "/root/testdata/sf0.001"
  private val large = "/root/testdata/sf0.01"

  /** A temp dir holding every table of `small`, with orders and lineitem
    * taken from `factsFrom`. */
  private def copyDir(factsFrom: String): Path = {
    val tmp = Files.createTempDirectory("graft-stale")
    Tables.names.foreach { t =>
      val src = if (t == "orders" || t == "lineitem") factsFrom else small
      Files.copy(Paths.get(s"$src/$t.parquet"), tmp.resolve(s"$t.parquet"))
    }
    tmp
  }

  private def run(dir: Path): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val d = dir.toString
    (Relational.q35BucketedJoin(spark, d).collect().map(_.toSeq).toSeq,
      Relational.q38Pagerank(spark, d).collect().map(_.toSeq).toSeq)
  }

  private def cleanUp(dir: Path): Unit = {
    Seq("orders", "lineitem").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_${t}_b_${Tables.dirTag(dir.toString)}"))
    dir.toFile.listFiles.foreach(_.delete())
    dir.toFile.delete()
  }

  test("q35 and q38 rebuild their derived state when orders and lineitem are regenerated mid-session") {
    val live = copyDir(small)
    val fresh = copyDir(large)
    try {
      val (q35Before, q38Before) = run(live)
      // regenerate the facts in place: different rows, same schema, newer mtime
      Seq("orders", "lineitem").foreach { t =>
        val p = live.resolve(s"$t.parquet")
        val mtime = Files.getLastModifiedTime(p).toMillis
        Files.copy(Paths.get(s"$large/$t.parquet"), p, StandardCopyOption.REPLACE_EXISTING)
        assert(p.toFile.setLastModified(mtime + 10000))
      }
      val (q35After, q38After) = run(live)
      val (q35Fresh, q38Fresh) = run(fresh)
      assert(q35Fresh != q35Before && q38Fresh != q38Before,
        "the regenerated facts must change both answers")
      assert(q35After == q35Fresh, "q35 served the bucketed fact tables of the old facts")
      assert(q38After == q38Fresh, "q38 served the pagerank state of the old facts")
    } finally Seq(live, fresh).foreach(cleanUp)
  }
}
