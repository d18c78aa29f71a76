package graft.pipeline

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.StandardOpenOption.{CREATE_NEW, READ, WRITE}
import java.util.UUID
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.Parse.failUnless

/** The reference's sink lifecycle (`index.js:108-122`): read back the existing
  * `data.txt`, bag-union with freshly parsed lines, sort everything
  * chronologically, overwrite the sink.
  *
  * Semantics preserved:
  *  - U1 union is union-ALL — the reference's comment claims dedup but no Set
  *    is built (`index.js:110` vs `:115`); duplicates survive re-runs. Parity
  *    is the default; `distinct = true` honors the stated (dead) intent.
  *  - O1 sort parses token[1] of each line as D/M/YYYY and fails fast on any
  *    missing/unparsable date (`index.js:12-36`). JS `Array.sort` is stable,
  *    so same-date lines keep insertion order (existing-sink lines before new
  *    lines, new lines in parser emit order) — Spark's sort is not stable, so
  *    we carry an explicit sequence as the secondary sort key.
  *
  * Stability sequence: `seq` is derived in the plan, with no job of its own.
  * `monotonically_increasing_id()` numbers rows by partition index, then by
  * position within the partition — the order `zipWithIndex` assigns — and
  * fresh lines are lifted above every existing id by [[FreshBase]], so the
  * ranks read "existing sink in file order, then fresh lines in emit order".
  * The ids are not contiguous; only their order matters.
  *
  * Scale note: [[mergeSortWrite]] collects every line to the driver anyway
  * (personal-broker-export scale by design), so it sorts a single-partition
  * `coalesce(1)` of the merge in one task: no range-sampling job, no shuffle,
  * one Spark job per append. The file is replaced atomically, so a crash
  * mid-write leaves the previous `data.txt` whole. [[writeSorted]] keeps the
  * range-partitioned distributed sort and a directory of part files for
  * large outputs.
  */
object MergeSortSink {

  /** Offset of the fresh side's ids: above any existing id, since
    * `monotonically_increasing_id` puts the partition index in bits 33–62
    * and no sink read has 2^29 partitions. */
  private val FreshBase = 1L << 62

  /** Read existing sink lines: trim, drop blanks (`index.js:109-113`,
    * filter F4); empty dataset when the file does not exist. */
  def readExisting(spark: SparkSession, path: String): Dataset[String] = {
    import spark.implicits._
    if (Files.exists(Paths.get(path)))
      spark.read.textFile(path).map(_.trim).filter(_.nonEmpty)
    else spark.emptyDataset[String]
  }

  /** Attach the stability sequence: existing lines first (in file order), then
    * fresh lines (in parser emit order) — reproducing `index.js:115`'s
    * concatenation order under a non-stable sort. Lazy: launches no job. */
  def merge(existing: Dataset[String], fresh: Dataset[String]): DataFrame = {
    def numbered(ds: Dataset[String], base: Long): DataFrame =
      ds.toDF("line").withColumn("seq", monotonically_increasing_id() + base)
    numbered(existing, 0L).union(numbered(fresh, FreshBase))
  }

  /** Chronological sort with fail-fast date validation (`index.js:12-36`).
    *
    * Intentional divergence on calendar-invalid dates: the reference's sort
    * comparator builds `new Date(y, m-1, d)`, so a line like `31/2/2024`
    * (which `ii.js:98-109` passes through unvalidated) silently rolls over to
    * 2 Mar 2024 and the run completes. Here `try_to_date` rejects it and the
    * merge aborts — we prefer failing on a date that does not exist over
    * emulating JS rollover arithmetic; real broker exports never hit this.
    *
    * The check guards the output column, not the sort key: Catalyst drops a
    * sort over at most one row (a single-line merge of local data), and the
    * key's projection with it. */
  def sortLines(merged: DataFrame): Dataset[String] = {
    import merged.sparkSession.implicits._
    val dateTok = split(col("line"), " ").getItem(1)
    val d = try_to_date(dateTok, "d/M/yyyy")
    merged
      .select(failUnless(col("line"), dateTok.isNotNull && d.isNotNull,
        concat(lit("Invalid or missing date in line: "), col("line"))).as("line"),
        d.as("_d"), col("seq"))
      .orderBy(col("_d"), col("seq"))
      .select($"line").as[String]
  }

  /** Full lifecycle: read-back → union(-all) → sort → single-file overwrite of
    * `path` (exact `data.txt` naming, `index.js:120-122`). Returns the sorted
    * lines. Bounded collect: personal-broker-export scale by design. One
    * Spark job: the sort runs in a single task over the coalesced merge. */
  def mergeSortWrite(spark: SparkSession, fresh: Dataset[String], path: String,
                     distinct: Boolean = false): Seq[String] = {
    val existing = readExisting(spark, path)
    // seq is assigned BEFORE any dedup so first-occurrence order is stable;
    // groupBy(line).min(seq) alone dedups in --distinct mode (a pre-distinct
    // would shuffle fresh lines and make their seq nondeterministic).
    val unioned = merge(existing, fresh)
    val deduped = if (distinct) {
      // keep first occurrence per line content (lowest seq)
      unioned.groupBy("line").agg(min("seq").as("seq"))
    } else unioned
    val sorted = sortLines(deduped.coalesce(1)).collect().toSeq
    replaceAtomically(Paths.get(path), sorted.mkString("", "\n", "\n"))
    sorted
  }

  /** Replace `target` with `body` via a temp file in the same directory and
    * an atomic rename: readers and crashes see the old file or the new one,
    * never a truncated one. The temp file's data is synced before the
    * rename and the directory entry after it, so a power loss cannot
    * reorder the rename ahead of the data. The temp file is removed when
    * any step fails. */
  private[graft] def replaceAtomically(target: Path, body: String,
      write: (Path, String) => Unit = (p, s) => Files.writeString(p, s, CREATE_NEW, WRITE)): Unit = {
    val abs = target.toAbsolutePath
    val tmp = abs.resolveSibling(s".${abs.getFileName}.${UUID.randomUUID()}.tmp")
    try {
      write(tmp, body)
      fsync(tmp)
      Files.move(tmp, abs, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      fsync(abs.getParent)
    } finally Files.deleteIfExists(tmp)
  }

  /** Flush `p` (a file, or a directory's entries) to the device. */
  private def fsync(p: Path): Unit = {
    val ch = FileChannel.open(p, READ)
    try ch.force(true) finally ch.close()
  }

  /** Distributed sink for at-scale outputs: range-partitioned global sort,
    * directory of part files, no driver collect. */
  def writeSorted(merged: DataFrame, outDir: String): Unit =
    sortLines(merged).write.mode("overwrite").text(outDir)
}
