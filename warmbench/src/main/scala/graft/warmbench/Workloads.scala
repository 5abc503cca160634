package graft.warmbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CurateMain
import graft.merge.{MergeConfig, MergeJob, MergedDoc, RunDoc}
import graft.pipeline.{ExtractJob, Page}
import graft.stats.Stats

/** What one pass left behind, read after its timer stopped. */
final case class PassOutput(docs: Long, errors: Long, failures: Seq[String], storedBytes: Long, filesWritten: Long)

/** One workload: inputs it generates (cached by seed and size), the pass
  * it times, and the checks on every pass's output. */
abstract class Workload(val name: String, val seed: Long, val size: Int, val inputs: Path, val work: Path) {
  /** Writes the inputs under `inputs`; runs in its own process, so the
    * measured process's JIT and caches never see generation. */
  def generate(spark: SparkSession): Unit
  /** Stages the cached inputs into `work` (not timed). */
  def prepare(spark: SparkSession): Unit = ()
  /** Resets state the previous pass changed (not timed). */
  def beforePass(spark: SparkSession): Unit
  /** The timed work. Returns the documents the pass completed. */
  def pass(spark: SparkSession): Long
  /** Checks the output of the pass that just ran (not timed). */
  def check(spark: SparkSession, docs: Long): PassOutput
  /** Frees what the pass left cached (not timed). */
  def release(spark: SparkSession): Unit = ()
  /** Layer metrics only this workload exercises, from a traced pass. */
  def layerMetrics(spark: SparkSession, rec: Recorder, last: WarmBench.Pass): Map[String, Double] = Map.empty
  /** Configures the session the way this workload's entry point does. */
  def configure(spark: SparkSession): Unit = ()
}

object Workloads {

  val Names = Seq("extract_warc", "extract_resume", "curate_chain", "merge_runs")

  def apply(name: String, seed: Long, size: Int, cache: Path, work: Path): Workload = {
    val inputs = cache.resolve(s"$name-s$seed-n$size")
    name match {
      case "extract_warc" => new ExtractWarc(seed, size, inputs, work)
      case "extract_resume" => new ExtractResume(seed, size, inputs, work)
      case "curate_chain" => new CurateChain(seed, size - size % 20, inputs, work)
      case "merge_runs" => new MergeRuns(seed, size, inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }

  // ------------------------------------------------------------------
  // file helpers
  // ------------------------------------------------------------------

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Data files under `root` (checksum and marker files excluded), by
    * path relative to `root`. */
  def dataFiles(root: Path): Map[String, Checks.FileStamp] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).map { f =>
        root.relativize(f).toString ->
          Checks.FileStamp(f.getFileName.toString, Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toMap finally s.close()
    }

  /** Bytes and count of files that `after` holds and `before` did not. */
  def written(before: Map[String, Checks.FileStamp], after: Map[String, Checks.FileStamp]): (Long, Long) = {
    val fresh = after.filter { case (k, v) => !before.get(k).contains(v) }
    (fresh.values.map(_.size).sum, fresh.size.toLong)
  }

  def bucketStamps(extracted: Path): Map[Int, Set[Checks.FileStamp]] =
    dataFiles(extracted).toSeq.collect {
      case (rel, st) if rel.startsWith("bucket=") => (rel.takeWhile(_ != File.separatorChar).stripPrefix("bucket=").toInt, st)
    }.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).toSet }

  /** Shuffle partitions sized to the session's cores, as a submitter
    * sizes them to a cluster. Spark's default of 200 makes every shuffle
    * of a CurateMain pass 200 tasks: 20-23 s per 1000-doc pass on 4
    * cores, against 4-6 s at 8 partitions. */
  def sizeShuffles(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.shuffle.partitions", 2 * spark.sparkContext.defaultParallelism)

  def ready(inputs: Path): Boolean = Files.exists(inputs.resolve("_READY"))

  def markReady(inputs: Path): Unit = { Files.write(inputs.resolve("_READY"), Array.emptyByteArray); () }

  // ------------------------------------------------------------------
  // shared extraction pieces
  // ------------------------------------------------------------------

  def pagesOf(spark: SparkSession, seed: Long, n: Int, parts: Int): org.apache.spark.sql.Dataset[Page] = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long].map { i =>
      val p = Gen.pageSpec(seed, i.toInt)
      Page(p.url, new java.sql.Timestamp(1735689600000L + i * 1000L),
        p.html.getBytes(java.nio.charset.StandardCharsets.UTF_8), p.text, p.lang)
    }
  }

  def lineage(spark: SparkSession, out: Path): Seq[Checks.LineageRec] =
    spark.read.parquet(out.resolve("_lineage").toString)
      .select(col("bucket").cast("int"), col("rows_out"), col("extractor_version")).collect()
      .map(r => Checks.LineageRec(r.getInt(0), r.getLong(1), r.getString(2))).toSeq

  /** Per-url hash of a whole extraction output row. */
  def rowDigests(df: DataFrame): DataFrame =
    df.select(col("url"), col("bucket").cast("int").as("bucket"),
      xxhash64(col("url"), col("lang"), col("main_text"), col("n_tables"), col("n_table_rows"),
        col("tables_json"), to_json(col("spans")), col("citation"), col("status"), col("html_bytes")).as("digest"))

  /** Wall seconds of the file listing and index builds one
    * ExtractJob.run pass makes, replayed on its output (median of three):
    * the pages read, the lineage read (a resume only), the partition
    * listing of the output and the read-back of the buckets the pass
    * wrote. */
  def listingS(spark: SparkSession, pages: => DataFrame, out: Path, resume: Boolean, written: Int => Boolean): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      pages
      if (resume) spark.read.parquet(out.resolve("_lineage").toString)
      val dir = new org.apache.hadoop.fs.Path(out.resolve("extracted").toString)
      val runDirs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir).map(_.getPath)
        .filter(d => d.getName.startsWith("bucket=") && written(d.getName.stripPrefix("bucket=").toInt))
      spark.read.option("basePath", dir.toString).parquet(runDirs.map(_.toString).toIndexedSeq: _*)
      (System.nanoTime() - t0) / 1e9
    }
    WarmBench.median(Seq.fill(3)(once()))
  }

  /** Time, CPU and shuffle attribution of one traced ExtractJob.run pass:
    * the extraction map stage, the rest of the bucketed write (result
    * stage and commit), the lineage executions (the completed-bucket
    * read, the read-back aggregate and the lineage write), and the file
    * listing measured on its own. Nothing is a remainder of the pass
    * time, so their sum can miss it. */
  def pipelineMetrics(rec: Recorder, last: WarmBench.Pass, listing: Double): Map[String, Double] = {
    val wall = last.epoch
    val execs = rec.execList.filter(e => e.start >= wall._1 - 1 && e.end <= wall._2 + 1)
    val stages = rec.stageList
    def in(e: Recorder.ExecRec)(s: Recorder.StageRec) = s.submitted >= e.start && s.completed <= e.end
    // the bucketed write is the one write that runs the extraction
    val mainWrite = execs.filter(e => e.isWrite && e.plan.contains("MapPartitions"))
    val extractStages = mainWrite.flatMap(e => stages.filter(s => in(e)(s) && s.shuffleMap))
    val extractS = extractStages.map(s => s.completed - s.submitted).sum / 1e3
    Map(
      "pipeline.extract_stage_s" -> extractS,
      "pipeline.extract_cpu_s" -> extractStages.map(_.cpuNs).sum / 1e9,
      "pipeline.shuffle_write_mb" -> extractStages.map(_.shuffleWrite).sum / 1e6,
      "pipeline.bucket_write_s" -> (mainWrite.map(_.seconds).sum - extractS),
      "pipeline.lineage_s" -> execs.filterNot(mainWrite.contains).map(_.seconds).sum,
      "pipeline.listing_s" -> listing,
      "pipeline.pass_s" -> last.wallS,
      "pipeline.tasks" -> rec.tasks.get.toDouble,
      "pipeline.files_written" -> last.out.filesWritten.toDouble)
  }

  /** Three extraction runs per page, as the paper's tablemerge step gets
    * them: the extraction itself, MergeJob.perturbRun's case and
    * whitespace jitter of it, and that jitter with cells changed where
    * [[Gen.disagrees]] plans a disagreement. */
  def threeRuns(spark: SparkSession, extracted: org.apache.spark.sql.Dataset[(String, String)],
      seed: Long): org.apache.spark.sql.Dataset[RunDoc] = {
    import spark.implicits._
    import graft.core.{Cell, TableData, TableDoc}
    extracted.flatMap { case (url, tablesJson) =>
      val i = url.takeRight(7).toInt
      val run0 = RunDoc(url, "run-0", 0, 0, tablesJson)
      val run2 = MergeJob.perturbRun(run0, "run-2", 2)
      val doc = TableDoc.fromJsonString(run2.tables_json)
      val planted = doc.copy(tables = doc.tables.zipWithIndex.map { case (t, ti) =>
        TableData(t.fragments.map(f => f.copy(rows = f.rows.zipWithIndex.map { case (r, ri) =>
          if (!Gen.disagrees(seed, i, ti, ri)) r
          else r.withColumns(r.columns.updated(0, (r.columns(0)._1, Cell.Str(Gen.disagreeValue(i, ti, ri)))))
        })), rowsForm = t.rowsForm)
      })
      Seq(run0, MergeJob.perturbRun(run0, "run-1", 1), run2.copy(tables_json = TableDoc.toJsonString(planted)))
    }
  }

  /** merge and stats layers, each call timed on its own: mergeRuns to a
    * written table, per-doc stats over it, the global roll-up over those. */
  def mergeLayers(spark: SparkSession, runs: org.apache.spark.sql.Dataset[RunDoc], tmp: Path,
      rec: Recorder): Map[String, Double] = {
    import spark.implicits._
    deleteTree(tmp)
    def timed(f: => Unit): Double = Recorder.timed(spark, rec)(f)._2
    timed(MergeJob.mergeRuns(spark, runs, MergeConfig()).write.parquet(tmp.resolve("merged").toString))
    val mergeM = Map("merge.shuffle_mb" -> rec.shuffleMb, "merge.stage_s" -> rec.stageS, "merge.task_cpu_s" -> rec.cpuS)
    val perDocS = timed(Stats.perDocStats(spark, spark.read.parquet(tmp.resolve("merged").toString).as[MergedDoc])
      .write.parquet(tmp.resolve("per_doc").toString))
    val globalS = timed(Stats.globalStats(spark.read.parquet(tmp.resolve("per_doc").toString)).collect())
    deleteTree(tmp)
    mergeM ++ Map("stats.per_doc_s" -> perDocS, "stats.global_s" -> globalS)
  }
}

import Workloads._

/** A fresh extraction of a WARC segment into few buckets. */
final class ExtractWarc(seed: Long, size: Int, inputs: Path, work: Path)
    extends Workload("extract_warc", seed, size, inputs, work) {
  val buckets = 16
  private def warcDir = inputs.resolve("warc")
  private def out = work.resolve("out")
  lazy val specs = (0 until size).map(Gen.pageSpec(seed, _))
  /** The last pass's committed pages and lineage, as checked. */
  var evidence: (Seq[Checks.OutPage], Seq[Checks.LineageRec]) = _

  def generate(spark: SparkSession): Unit =
    graft.sources.WarcWriter.writeCorpus(spark, pagesOf(spark, seed, size, 8), warcDir.toString)

  override def configure(spark: SparkSession): Unit = graft.ExtractMain.applyJobConfs(spark, buckets)

  def beforePass(spark: SparkSession): Unit = deleteTree(out)

  private def readWarc(spark: SparkSession) = spark.read.format("warc").load(warcDir.toString)

  def pass(spark: SparkSession): Long = {
    import spark.implicits._
    val pages = readWarc(spark)
      .select(col("url"), col("warc_ts"), col("html"), lit("").as("text"), lit("en").as("lang")).as[Page]
    ExtractJob.run(spark, pages, out.toString, ExtractJob.Config(buckets = buckets)).pagesProcessed
  }

  def check(spark: SparkSession, docs: Long): PassOutput = {
    val rows = spark.read.parquet(out.resolve("extracted").toString)
      .select(col("url"), col("bucket").cast("int"), col("n_tables"), col("n_table_rows"), col("main_text"), col("status"))
      .collect().map(r => Checks.OutPage(r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4), r.getString(5)))
    evidence = (rows.toSeq, lineage(spark, out))
    val fails = Checks.extract(evidence._1, evidence._2, specs, buckets, ExtractJob.ExtractorVersion)
    val (bytes, files) = written(Map.empty, dataFiles(out))
    PassOutput(docs, rows.count(_.status.startsWith("error:")).toLong,
      if (docs == size) fails else fails :+ s"pass reported $docs pages, $size generated", bytes, files)
  }

  override def layerMetrics(spark: SparkSession, rec: Recorder, last: WarmBench.Pass): Map[String, Double] = {
    val t0 = System.nanoTime()
    spark.read.format("warc").load(warcDir.toString).selectExpr("sum(length(html))", "count(url)").collect()
    val scanS = (System.nanoTime() - t0) / 1e9
    val warcBytes = dataFiles(warcDir).values.map(_.size).sum
    pipelineMetrics(rec, last, listingS(spark, readWarc(spark), out, resume = false, _ => true)) ++ Map(
      "sources.warc_scan_s" -> scanS,
      "sources.warc_mb_per_s" -> warcBytes / 1e6 / scanS)
  }
}

final case class ResumeEvidence(lineage: Seq[Checks.LineageRec], stale: Set[Int],
    before: Map[Int, Set[Checks.FileStamp]], after: Map[Int, Set[Checks.FileStamp]],
    rewritten: Map[String, Long], fresh: Map[String, Long], committed: Long) {
  def check: Seq[String] =
    Checks.resume(lineage, ExtractJob.ExtractorVersion, stale, before, after, rewritten, fresh, committed)
}

/** A resume pass over a parquet pages table whose output holds a
  * finished run at many buckets, half of them stamped by an older
  * extractor version. */
final class ExtractResume(seed: Long, size: Int, inputs: Path, work: Path)
    extends Workload("extract_resume", seed, size, inputs, work) {
  val buckets = 128
  val OldVersion = "graft-extract-0.1.0"
  private def pagesDir = inputs.resolve("pages")
  private def out = work.resolve("out")
  private lazy val stale: Set[Int] =
    new String(Files.readAllBytes(inputs.resolve("stale_buckets.txt")), "UTF-8").split("\\s+").filter(_.nonEmpty).map(_.toInt).toSet
  private lazy val fresh: Map[String, (Int, Long)] = {
    val rows = Files.readAllLines(inputs.resolve("fresh_digests.tsv")).asScala
    rows.map { l => val a = l.split('\t'); a(0) -> (a(1).toInt, a(2).toLong) }.toMap
  }
  private var before = Map.empty[Int, Set[Checks.FileStamp]]
  /** The last pass's state, as checked. */
  var evidence: ResumeEvidence = _
  private var beforeFiles = Map.empty[String, Checks.FileStamp]

  override def configure(spark: SparkSession): Unit = graft.ExtractMain.applyJobConfs(spark, buckets)

  def generate(spark: SparkSession): Unit = {
    pagesOf(spark, seed, size, 8).write.parquet(pagesDir.toString)
    val state = inputs.resolve("state")
    ExtractJob.run(spark, readPages(spark), state.toString, ExtractJob.Config(buckets = buckets))
    val digests = rowDigests(spark.read.parquet(state.resolve("extracted").toString)).collect()
    Files.write(inputs.resolve("fresh_digests.tsv"),
      digests.map(r => s"${r.getString(0)}\t${r.getInt(1)}\t${r.getLong(2)}").toSeq.asJava)
    // half the buckets, chosen from the seed, carry the older version
    val all = digests.map(_.getInt(1)).distinct.sorted
    val r = Gen.rng(seed, 7, 0)
    val chosen = all.map(b => (r.nextLong(), b)).sortBy(_._1).take(all.length / 2).map(_._2).toSet
    Files.write(inputs.resolve("stale_buckets.txt"), chosen.toSeq.sorted.mkString(" ").getBytes("UTF-8"))
    val lin = spark.read.parquet(state.resolve("_lineage").toString)
    lin.withColumn("extractor_version",
        when(col("bucket").isin(chosen.toSeq: _*), lit(OldVersion)).otherwise(col("extractor_version")))
      .write.partitionBy("bucket").parquet(inputs.resolve("stale_lineage").toString)
  }

  private def readPages(spark: SparkSession) = {
    import spark.implicits._
    spark.read.parquet(pagesDir.toString).select("url", "warc_ts", "html", "text", "lang").as[Page]
  }

  override def prepare(spark: SparkSession): Unit = {
    deleteTree(out)
    copyTree(inputs.resolve("state"), out)
  }

  def beforePass(spark: SparkSession): Unit = {
    deleteTree(out.resolve("_lineage"))
    copyTree(inputs.resolve("stale_lineage"), out.resolve("_lineage"))
    before = bucketStamps(out.resolve("extracted"))
    beforeFiles = dataFiles(out)
  }

  def pass(spark: SparkSession): Long =
    ExtractJob.run(spark, readPages(spark), out.toString, ExtractJob.Config(buckets = buckets)).pagesProcessed

  def check(spark: SparkSession, docs: Long): PassOutput = {
    val after = bucketStamps(out.resolve("extracted"))
    val rewritten = rowDigests(spark.read.parquet(out.resolve("extracted").toString)
        .filter(col("bucket").isin(stale.toSeq: _*)))
      .select("url", "digest").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val errors = spark.read.parquet(out.resolve("extracted").toString)
      .filter(col("bucket").isin(stale.toSeq: _*) && col("status").startsWith("error:")).count()
    val freshStale = fresh.collect { case (u, (b, d)) if stale(b) => u -> d }
    evidence = ResumeEvidence(lineage(spark, out), stale, before, after, rewritten, freshStale, docs)
    val fails = evidence.check
    val (bytes, files) = written(beforeFiles, dataFiles(out))
    PassOutput(docs, errors, fails, bytes, files)
  }

  override def layerMetrics(spark: SparkSession, rec: Recorder, last: WarmBench.Pass): Map[String, Double] =
    pipelineMetrics(rec, last, listingS(spark, readPages(spark).toDF(), out, resume = true, stale))
}

/** CurateMain.run and the curated write over a planted corpus. */
final class CurateChain(seed: Long, size: Int, inputs: Path, work: Path)
    extends Workload("curate_chain", seed, size, inputs, work) {
  private def docsDir = inputs.resolve("documents")
  private def benchDir = inputs.resolve("benchmark")
  private def out = work.resolve("out")
  private var lastStats: CurateMain.Stats = _
  /** The last pass's curated rows, as checked. */
  var evidence: Seq[(Long, String)] = _

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    val s = seed
    spark.range(0, size, 1, 4).as[Long].map(i => (i, Gen.curateDoc(s, i.toInt))).toDF("doc_id", "text")
      .write.parquet(docsDir.toString)
    Gen.benchItems(seed, size).toDF("text").coalesce(1).write.parquet(benchDir.toString)
  }

  def docs(spark: SparkSession): DataFrame = spark.read.parquet(docsDir.toString).select("doc_id", "text")
  def bench(spark: SparkSession): DataFrame = spark.read.parquet(benchDir.toString).select("text")

  override def configure(spark: SparkSession): Unit = sizeShuffles(spark)

  def beforePass(spark: SparkSession): Unit = deleteTree(out)

  def pass(spark: SparkSession): Long = {
    val (curated, stats) = CurateMain.run(spark, docs(spark), Some(bench(spark)), CurateMain.Args())
    curated.write.mode("overwrite").parquet(out.resolve("curated").toString)
    lastStats = stats
    stats.inputDocs
  }

  def check(spark: SparkSession, docs: Long): PassOutput = {
    val rows = spark.read.parquet(out.resolve("curated").toString).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    evidence = rows
    val fails = Checks.curate(seed, size, rows, lastStats.outputDocs, rows.size.toLong)
    val (bytes, files) = written(Map.empty, dataFiles(out))
    PassOutput(docs, 0L, if (docs == size) fails else fails :+ s"input_docs $docs, generated $size", bytes, files)
  }

  override def release(spark: SparkSession): Unit = spark.catalog.clearCache()

  /** Each gate timed on its own, persisted and counted the way
    * CurateMain.run's stats path does, then drop counts in chain order. */
  override def layerMetrics(spark: SparkSession, rec: Recorder, last: WarmBench.Pass): Map[String, Double] = {
    import graft.ops.{Curation, Decontaminate, DupSpans, LineDedup}
    val a = CurateMain.Args()
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    val jobs = rec.jobs.get.toDouble
    spark.catalog.clearCache()
    val m = Map.newBuilder[String, Double]
    def gate(key: String)(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (n, seconds) = Recorder.timed(spark, rec)(p.count())
      m += s"ops.${key}_s" -> seconds
      m += s"ops.${key}_shuffle_mb" -> rec.shuffleMb
      (p, n)
    }
    val input = docs(spark).filter(col("text").isNotNull)
    val (lined, nLined) = gate("line_strip")(LineDedup.stripRepeatedLines(input, a.lineMinDf).filter(col("text") =!= ""))
    val (keepQ, nQ) = gate("quality_dedup")(Curation.curate(spark, lined).select("doc_id"))
    val (keepS, _) = gate("span_gate")(DupSpans.dupCoverage(spark, lined, a.gramK)
      .filter(col("dup_tokens") * 1000 <= col("n_tokens") * a.maxDupPermille).select("doc_id"))
    val (contam, _) = gate("decontam")(Decontaminate.contaminationHits(spark, lined, bench(spark), a.gramK).select("doc_id"))
    val qualityOk = Curation.signals(spark, lined).filter(col("quality_ok") && col("dup_bigram_x1000") <= 100).count()
    val nQS = keepQ.join(keepS, "doc_id").count()
    val nOut = keepQ.join(keepS, "doc_id").join(contam, Seq("doc_id"), "left_anti").count()
    spark.catalog.clearCache()
    m.result() ++ Map(
      "curate.jobs" -> jobs,
      "curate.cached_mb" -> cachedMb,
      "curate.drop_line_strip" -> (size - nLined).toDouble,
      "curate.drop_quality" -> (nLined - qualityOk).toDouble,
      "curate.drop_exact_dedup" -> (qualityOk - nQ).toDouble,
      "curate.drop_span_gate" -> (nQ - nQS).toDouble,
      "curate.drop_decontam" -> (nQS - nOut).toDouble)
  }
}

/** MergeJob.mergeRuns over three runs per document, then the per-doc and
  * global stats. */
final class MergeRuns(seed: Long, size: Int, inputs: Path, work: Path)
    extends Workload("merge_runs", seed, size, inputs, work) {
  private def runsDir = inputs.resolve("runs")
  private def out = work.resolve("out")
  var lastGlobal: (Long, Long) = (0L, 0L)
  /** The last pass's merged docs, as checked. */
  var evidence: Seq[(String, Int, String)] = _

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    val extracted = ExtractJob.extract(spark, pagesOf(spark, seed, size, 4))
    threeRuns(spark, extracted.select("url", "tables_json").as[(String, String)], seed)
      .repartition(4).write.parquet(runsDir.toString)
  }

  override def configure(spark: SparkSession): Unit = sizeShuffles(spark)

  def beforePass(spark: SparkSession): Unit = deleteTree(out)

  private def mergedPath = out.resolve("merged").toString
  private def perDocPath = out.resolve("per_doc").toString

  def pass(spark: SparkSession): Long = {
    import spark.implicits._
    MergeJob.mergeRuns(spark, spark.read.parquet(runsDir.toString).as[RunDoc], MergeConfig())
      .write.parquet(mergedPath)
    Stats.perDocStats(spark, spark.read.parquet(mergedPath).as[MergedDoc]).write.parquet(perDocPath)
    val g = Stats.globalStats(spark.read.parquet(perDocPath)).collect().head
    lastGlobal = (g.getAs[Long]("papers"), g.getAs[Long]("rows"))
    lastGlobal._1
  }

  def check(spark: SparkSession, docs: Long): PassOutput = {
    val merged = spark.read.parquet(mergedPath).select("doc_id", "n_runs", "merged_json").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    evidence = merged
    val fails = Checks.merge(seed, size, merged, lastGlobal._1, lastGlobal._2)
    val (bytes, files) = written(Map.empty, dataFiles(out))
    PassOutput(docs, 0L, fails, bytes, files)
  }

  override def layerMetrics(spark: SparkSession, rec: Recorder, last: WarmBench.Pass): Map[String, Double] = {
    import spark.implicits._
    mergeLayers(spark, spark.read.parquet(runsDir.toString).as[RunDoc], work.resolve("layers"), rec)
  }
}
