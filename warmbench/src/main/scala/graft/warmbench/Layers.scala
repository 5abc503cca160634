package graft.warmbench

import java.lang.management.ManagementFactory

import graft.core.TableDoc
import graft.html.{HtmlExtractor, HtmlTokenizer}

/** Per-layer metric names and units, and the single-threaded layer
  * measurements that do not depend on the workload. A workload reports 0
  * for a layer it does not run. */
object Layers {

  val all: Seq[(String, String)] = Seq(
    "sources.warc_scan_s" -> "s",
    "sources.warc_mb_per_s" -> "MB/s",
    "html.tokenize_us_per_page" -> "us",
    "html.extract_us_per_page" -> "us",
    "html.serialize_us_per_page" -> "us",
    "html.alloc_kb_per_page" -> "KB",
    "pipeline.extract_stage_s" -> "s",
    "pipeline.extract_cpu_s" -> "s",
    "pipeline.shuffle_write_mb" -> "MB",
    "pipeline.bucket_write_s" -> "s",
    "pipeline.listing_s" -> "s",
    "pipeline.lineage_s" -> "s",
    "pipeline.pass_s" -> "s",
    "pipeline.tasks" -> "count",
    "pipeline.files_written" -> "count",
    "ops.line_strip_s" -> "s",
    "ops.line_strip_shuffle_mb" -> "MB",
    "ops.quality_dedup_s" -> "s",
    "ops.quality_dedup_shuffle_mb" -> "MB",
    "ops.span_gate_s" -> "s",
    "ops.span_gate_shuffle_mb" -> "MB",
    "ops.decontam_s" -> "s",
    "ops.decontam_shuffle_mb" -> "MB",
    "curate.jobs" -> "count",
    "curate.cached_mb" -> "MB",
    "curate.drop_line_strip" -> "count",
    "curate.drop_quality" -> "count",
    "curate.drop_exact_dedup" -> "count",
    "curate.drop_span_gate" -> "count",
    "curate.drop_decontam" -> "count",
    "merge.shuffle_mb" -> "MB",
    "merge.stage_s" -> "s",
    "merge.task_cpu_s" -> "s",
    "stats.per_doc_s" -> "s",
    "stats.global_s" -> "s",
    "core.json_parse_us_per_doc" -> "us",
    "trace.docs_per_s" -> "docs/s",
    "trace.cpu_s_per_kdoc" -> "s",
    "trace.untraced_pass_s" -> "s",
    "trace.pass_s" -> "s",
    "trace.overhead_s" -> "s")

  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  private object NoSink extends HtmlTokenizer.ByteTokSink {
    def startTag(name: String, attrs: List[(String, String)], selfClosing: Boolean, pos: Int, endPos: Int): Unit = ()
    def endTag(name: String, pos: Int, endPos: Int): Unit = ()
    def text(src: Array[Byte], startB: Int, endB: Int, pos: Int): Unit = ()
  }

  /** Microseconds per item of `f` over `items`, after a warm-up, with the
    * heap bytes this thread allocated per item. */
  private def perItem[T](items: IndexedSeq[T], minSeconds: Double)(f: T => Any): (Double, Double) = {
    def round(): Unit = items.foreach(f)
    val warmEnd = System.nanoTime() + (minSeconds * 1e9).toLong
    while (System.nanoTime() < warmEnd) round()
    val tid = Thread.currentThread().getId
    val a0 = threads.getThreadAllocatedBytes(tid)
    val t0 = System.nanoTime()
    var rounds = 0
    while (System.nanoTime() - t0 < minSeconds * 1e9) { round(); rounds += 1 }
    val n = rounds.toDouble * items.size
    ((System.nanoTime() - t0) / 1e3 / n, (threads.getThreadAllocatedBytes(tid) - a0) / n)
  }

  /** html and core measured on the calling thread over a fixed sample of
    * generated pages. */
  def microbench(seed: Long, log: String => Unit): Map[String, Double] = {
    val specs = (0 until 400).map(Gen.pageSpec(seed, _))
    val pages = specs.map(p => p.html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (tokUs, _) = perItem(pages, 0.5)(HtmlTokenizer.tokenizeBytesInto(_, NoSink))
    val (exUs, exAlloc) = perItem(pages, 0.5)(HtmlExtractor.extractBytes(_))
    val extracted = pages.map(HtmlExtractor.extractBytes(_))
    val (serUs, serAlloc) = perItem(extracted, 0.5)(HtmlExtractor.toRawJson("page.html", _))
    val jsons = extracted.map(HtmlExtractor.toRawJson("page.html", _))
    val (parseUs, _) = perItem(jsons, 0.5)(TableDoc.fromJsonString)
    log(f"html: tokenize $tokUs%.1f us, extract $exUs%.1f us, serialize $serUs%.1f us per page")
    Map(
      "html.tokenize_us_per_page" -> tokUs,
      "html.extract_us_per_page" -> exUs,
      "html.serialize_us_per_page" -> serUs,
      "html.alloc_kb_per_page" -> (exAlloc + serAlloc) / 1024,
      "core.json_parse_us_per_doc" -> parseUs)
  }
}
