package graft.warmbench

import graft.pipeline.ExtractJob

/** Self-tests of the checker: each workload runs one pass on a small
  * input, its checks must pass, and each check must then fail on a
  * corrupted copy of that output. Prints one line per case and exits
  * non-zero if any case misbehaves. */
object SelfTest {

  def run(a: WarmBench.Args): Unit = {
    val sizes = Map("extract_warc" -> 300, "extract_resume" -> 400, "curate_chain" -> 400, "merge_runs" -> 200)
    val ws = Workloads.Names.map(n => Workloads(n, a.seed, sizes(n), a.cache.toAbsolutePath, a.work.toAbsolutePath.resolve(n)))
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    def expect(name: String, failures: Seq[String], shouldFail: Boolean): Unit = {
      val ok = failures.nonEmpty == shouldFail
      println(s"${if (ok) "ok  " else "FAIL"} $name${failures.headOption.map(f => s" ($f)").getOrElse("")}")
      results += name -> ok
    }
    ws.foreach { w =>
      if (!Workloads.ready(w.inputs)) {
        java.nio.file.Files.createDirectories(w.inputs)
        val gs = WarmBench.session(a.cores, w.work.resolve("spark-local"))
        try { w.configure(gs); w.generate(gs) } finally gs.stop()
        Workloads.markReady(w.inputs)
      }
    }
    val spark = WarmBench.session(a.cores, a.work.resolve("spark-local"))
    try ws.foreach { w =>
      w.configure(spark)
      w.prepare(spark)
      val p = WarmBench.timePass(spark, w, None)
      expect(s"${w.name}: clean output passes", p.out.failures, shouldFail = false)
      w match {
        case x: ExtractWarc =>
          val (pages, lineage) = x.evidence
          def chk(ps: Seq[Checks.OutPage]) = Checks.extract(ps, lineage, x.specs, x.buckets, ExtractJob.ExtractorVersion)
          expect("extract_warc: dropped url", chk(pages.tail), shouldFail = true)
          expect("extract_warc: duplicated url", chk(pages :+ pages.head), shouldFail = true)
          expect("extract_warc: page in the wrong bucket",
            chk(pages.updated(0, pages.head.copy(bucket = (pages.head.bucket + 1) % x.buckets))), shouldFail = true)
          expect("extract_warc: nav text kept",
            chk(pages.updated(0, pages.head.copy(mainText = pages.head.mainText + "\n" + Gen.Boilerplate(1)))), shouldFail = true)
        case x: ExtractResume =>
          val e = x.evidence
          val staleRow = e.lineage.head.copy(version = x.OldVersion)
          expect("extract_resume: stale lineage row left behind",
            e.copy(lineage = e.lineage.tail :+ staleRow).check, shouldFail = true)
          val done = e.before.keys.find(b => !e.stale(b)).get
          expect("extract_resume: completed bucket rewritten",
            e.copy(after = e.after.updated(done, e.after(done).map(f => f.copy(mtime = f.mtime + 1)))).check, shouldFail = true)
          val u = e.rewritten.keys.head
          expect("extract_resume: rewritten row differs", e.copy(rewritten = e.rewritten.updated(u, 0L)).check,
            shouldFail = true)
        case x: CurateChain =>
          val rows = x.evidence
          val contaminated = (0 until x.size).find(i => Gen.kindOf(i) == Gen.Kind.Contaminated).get
          expect("curate_chain: contaminated doc kept",
            Checks.curate(x.seed, x.size, rows :+ (contaminated.toLong -> Gen.curateDoc(x.seed, contaminated)),
              rows.size + 1L, rows.size + 1L), shouldFail = true)
          val twin = (0 until x.size).find(_ % 20 == 3).get
          expect("curate_chain: higher-id twin kept",
            Checks.curate(x.seed, x.size, rows :+ (twin.toLong -> Gen.curateDoc(x.seed, twin)),
              rows.size + 1L, rows.size + 1L), shouldFail = true)
          expect("curate_chain: repeated line kept",
            Checks.curate(x.seed, x.size, rows.updated(0, rows.head.copy(_2 = rows.head._2 + "\n" + rows(1)._2)),
              rows.size.toLong, rows.size.toLong), shouldFail = true)
        case x: MergeRuns =>
          val merged = x.evidence
          val (id, n, json) = merged.head
          val k = json.indexOf("\"agreement_level_\": 3")
          val bad = json.substring(0, k) + "\"agreement_level_\": 2" + json.substring(k + 21)
          expect("merge_runs: merged row with the wrong agreement",
            Checks.merge(x.seed, x.size, merged.updated(0, (id, n, bad)), x.lastGlobal._1, x.lastGlobal._2),
            shouldFail = true)
          expect("merge_runs: doc merged twice",
            Checks.merge(x.seed, x.size, merged :+ merged.head, x.lastGlobal._1, x.lastGlobal._2), shouldFail = true)
      }
      w.release(spark)
    } finally spark.stop()
    val bad = results.count(!_._2)
    println(s"selftest: ${results.size - bad} of ${results.size} cases behaved")
    if (bad > 0) sys.exit(1)
  }
}
