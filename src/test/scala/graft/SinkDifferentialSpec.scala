package graft

import java.io.IOException
import java.nio.file.{Files, Path}
import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.min
import graft.pipeline.MergeSortSink

/** The earlier sink formulation, kept as the differential reference for
  * [[MergeSortSink.merge]]: an extra `count()` job sizes the existing side,
  * then two RDD `zipWithIndex` round trips number existing lines 0..n-1 and
  * fresh lines n.. — contiguous sequence values in concatenation order. */
object ReferenceSink {
  def merge(existing: Dataset[String], fresh: Dataset[String]): DataFrame = {
    val spark = existing.sparkSession
    import spark.implicits._
    val nExisting = existing.count()
    val a = existing.rdd.zipWithIndex().map { case (l, i) => (l, i) }
    val b = fresh.rdd.zipWithIndex().map { case (l, i) => (l, i + nExisting) }
    spark.createDataset(a.union(b)).toDF("line", "seq")
  }

  /** `mergeSortWrite`'s lines as the earlier formulation sorted them, with a
    * distributed range sort and without writing the sink. */
  def sortedLines(spark: SparkSession, fresh: Dataset[String], path: String,
                  distinct: Boolean): Seq[String] = {
    val unioned = merge(MergeSortSink.readExisting(spark, path), fresh)
    val deduped =
      if (distinct) unioned.groupBy("line").agg(min("seq").as("seq")) else unioned
    MergeSortSink.sortLines(deduped).collect().toSeq
  }
}

/** The plan-native merge and the single-task sort against the reference:
  * identical ranks and identical sink bytes with several partitions on both
  * sides; one Spark job per append; an atomic sink replacement. */
class SinkDifferentialSpec extends SparkSpec {

  /** Many same-date ties (four dates, one written two ways) and repeated
    * lines (20 distinct per tag), so the sequence decides most of the order. */
  private def lines(tag: String, n: Int): Seq[String] =
    (0 until n).map { i =>
      val d = Seq("03/01/2024", "3/1/2024", "17/06/2023", "29/02/2024")(i % 4)
      s"BUY $d $tag${i % 20} ${i % 10} 1.5 0"
    }

  private def listing(dir: Path): Seq[String] = dir.toFile.list().toSeq.sorted

  private def sinkWith(existing: Seq[String]): Path = {
    val p = Files.createTempDirectory("graft-sink-diff").resolve("data.txt")
    Files.writeString(p, existing.mkString("", "\n", "\n"))
    p
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Jobs launched by `body`, counted by a listener on a private job group. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"sink-jobs-${System.nanoTime()}"
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      try body finally sc.clearJobGroup()
      SpecBus.drain(sc)
      seen.get()
    } finally sc.removeSparkListener(listener)
  }

  private val existingLines = lines("OLD", 400)
  private val freshLines = lines("NEW", 300)

  test("plan-native merge ranks (line, seq) exactly as count + zipWithIndex, several partitions each side") {
    import spark.implicits._
    withConf("spark.sql.files.maxPartitionBytes", "1024") {
      val sink = sinkWith(existingLines)
      val existing = MergeSortSink.readExisting(spark, sink.toString)
      val fresh = spark.createDataset(spark.sparkContext.parallelize(freshLines, 5))
      assert(existing.rdd.getNumPartitions > 1 && fresh.rdd.getNumPartitions == 5)
      def ranked(df: DataFrame): Seq[String] = df.orderBy("seq").select("line").as[String].collect().toSeq
      val got = ranked(MergeSortSink.merge(existing, fresh))
      assert(got == ranked(ReferenceSink.merge(existing, fresh)))
      assert(got == existingLines ++ freshLines)
    }
  }

  for (distinct <- Seq(false, true))
    test(s"mergeSortWrite output and sink bytes match the reference (distinct = $distinct)") {
      import spark.implicits._
      withConf("spark.sql.files.maxPartitionBytes", "1024") {
        val sink = sinkWith(existingLines)
        val fresh = spark.createDataset(spark.sparkContext.parallelize(freshLines, 5))
        val expected = ReferenceSink.sortedLines(spark, fresh, sink.toString, distinct)
        val out = MergeSortSink.mergeSortWrite(spark, fresh, sink.toString, distinct)
        assert(out == expected)
        assert(out.size == (if (distinct) 2 * 20 else existingLines.size + freshLines.size))
        assert(Files.readString(sink) == expected.mkString("", "\n", "\n"))
        assert(listing(sink.getParent) == Seq("data.txt"))
      }
    }

  test("one mergeSortWrite of a pre-built fresh Dataset onto an existing sink launches exactly one Spark job") {
    import spark.implicits._
    val fresh = spark.createDataset(spark.sparkContext.parallelize(freshLines, 3))
    val sink = sinkWith(existingLines)
    assert(jobsOf { MergeSortSink.mergeSortWrite(spark, fresh, sink.toString); () } == 1)
    // the reference formulation pays a count, two zipWithIndex size jobs and
    // a range-sampling job before the sort itself
    assert(jobsOf { ReferenceSink.sortedLines(spark, fresh, sink.toString, distinct = false); () } > 1)
  }

  test("a sink write that fails after the sort leaves data.txt byte-identical and no temp file") {
    import spark.implicits._
    val sink = sinkWith(existingLines)
    val before = Files.readAllBytes(sink)
    val sorted = MergeSortSink.sortLines(MergeSortSink.merge(
      MergeSortSink.readExisting(spark, sink.toString), freshLines.toDS())).collect()
    val e = intercept[IOException](MergeSortSink.replaceAtomically(sink, sorted.mkString("\n"),
      (tmp, body) => {
        Files.writeString(tmp, body.take(body.length / 2))
        throw new IOException("planted: device full")
      }))
    assert(e.getMessage.contains("planted"))
    assert(java.util.Arrays.equals(Files.readAllBytes(sink), before))
    assert(listing(sink.getParent) == Seq("data.txt"))
  }
}
