package graft.warmbench

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Output checks, as pure functions over collected output. Each returns
  * the list of violations (empty = pass). Expected values come from the
  * seeded generators ([[Gen]]) or from properties the method must have,
  * never from the program's own code.
  */
object Checks {

  final case class OutPage(url: String, bucket: Int, nTables: Int, nTableRows: Int, mainText: String, status: String)
  final case class LineageRec(bucket: Int, rowsOut: Long, version: String)
  /** One committed data file: name, size and modification time. */
  final case class FileStamp(name: String, size: Long, mtime: Long)

  /** Spark's `pmod(xxhash64(url), buckets)`, evaluated here on its own. */
  def bucketOf(url: String, buckets: Int): Int =
    java.lang.Math.floorMod(XxHash64Function.hash(UTF8String.fromString(url), StringType, 42L), buckets.toLong).toInt

  private def limit(msgs: Iterable[String]): Seq[String] = {
    val s = msgs.toSeq
    if (s.size <= 5) s else s.take(5) :+ s"... ${s.size - 5} more"
  }

  /** extract_warc: one row per generated page, in its hashed bucket, with
    * the rendered table shape and main text; lineage accounts for every
    * page at the current version. Pages with an `error:` status are
    * failed operations, counted by the caller, and skipped here. */
  def extract(pages: Seq[OutPage], lineage: Seq[LineageRec], specs: Seq[Gen.PageSpec],
      buckets: Int, version: String): Seq[String] = {
    val byUrl = pages.groupBy(_.url)
    val want = specs.map(s => s.url -> s).toMap
    val out = Seq.newBuilder[String]
    if (pages.size != specs.size) out += s"committed ${pages.size} pages, generated ${specs.size}"
    out ++= limit(byUrl.collect { case (u, rs) if rs.size > 1 => s"url $u committed ${rs.size} times" })
    out ++= limit(want.keys.filterNot(byUrl.contains).map(u => s"url $u missing"))
    out ++= limit(byUrl.keys.filterNot(want.contains).map(u => s"url $u was never generated"))
    out ++= limit(pages.filter(p => want.contains(p.url) && !p.status.startsWith("error:")).flatMap { p =>
      val s = want(p.url)
      val lines = p.mainText.split("\n").toSet
      Seq(
        (p.bucket != bucketOf(p.url, buckets)) -> s"${p.url} in bucket ${p.bucket}, hashes to ${bucketOf(p.url, buckets)}",
        (p.nTables != s.tables.size) -> s"${p.url} n_tables ${p.nTables}, rendered ${s.tables.size}",
        (p.nTableRows != s.tables.sum) -> s"${p.url} n_table_rows ${p.nTableRows}, rendered ${s.tables.sum}",
        !(s.paragraphs :+ s"Synthetic page ${s.docId}").forall(lines) -> s"${p.url} main_text lost a body paragraph",
        Gen.Boilerplate.exists(p.mainText.contains) -> s"${p.url} main_text kept script, nav, header or footer text"
      ).collect { case (true, m) => m }
    })
    val rowsOut = lineage.map(_.rowsOut).sum
    if (rowsOut != pages.size) out += s"lineage rows_out sums to $rowsOut, ${pages.size} pages committed"
    out ++= limit(lineage.filter(_.version != version).map(l => s"lineage bucket ${l.bucket} at ${l.version}"))
    out.result()
  }

  /** extract_resume: the pass converges the lineage to the current
    * version by rewriting exactly the stale buckets, leaves every other
    * bucket's files as they were, and rewrites rows identical to a fresh
    * run's. Digests are per-url hashes of the whole output row. */
  def resume(lineage: Seq[LineageRec], version: String, stale: Set[Int],
      before: Map[Int, Set[FileStamp]], after: Map[Int, Set[FileStamp]],
      rewritten: Map[String, Long], fresh: Map[String, Long], committed: Long): Seq[String] = {
    val out = Seq.newBuilder[String]
    out ++= limit(lineage.filter(_.version != version).map(l => s"lineage bucket ${l.bucket} left at ${l.version}"))
    if (lineage.map(_.bucket).toSet != before.keySet)
      out += s"lineage covers ${lineage.map(_.bucket).toSet.size} buckets, output has ${before.size}"
    out ++= limit(before.keys.toSeq.sorted.flatMap { b =>
      val (was, now) = (before(b), after.getOrElse(b, Set.empty))
      if (stale(b) && (now.isEmpty || (was & now).nonEmpty)) Some(s"stale bucket $b was not rewritten")
      else if (!stale(b) && was != now) Some(s"completed bucket $b files changed")
      else None
    })
    if (committed != fresh.size) out += s"pass committed $committed pages, stale buckets hold ${fresh.size}"
    out ++= limit(fresh.collect {
      case (u, d) if !rewritten.get(u).contains(d) => s"$u rewritten row differs from the fresh run's"
    })
    out ++= limit(rewritten.keys.filterNot(fresh.contains).map(u => s"$u rewritten outside the stale buckets"))
    out.result()
  }

  /** Spark SQL `lower(trim(line))`: trim strips spaces only. */
  def normLine(l: String): String = {
    var a = 0
    var b = l.length
    while (a < b && l.charAt(a) == ' ') a += 1
    while (b > a && l.charAt(b - 1) == ' ') b -= 1
    l.substring(a, b).toLowerCase(java.util.Locale.ROOT)
  }

  /** curate_chain: a subset of the input; every planted doc gone, except
    * that of a twin pair the lower id may survive (the exact dedup keeps
    * the minimum doc_id); every clean doc kept with exactly
    * its unique lines; no two output lines alike; the stats count equals
    * the rows written. */
  def curate(seed: Long, nDocs: Int, out: Seq[(Long, String)], statsOutput: Long, rowsWritten: Long): Seq[String] = {
    val res = Seq.newBuilder[String]
    val ids = out.map(_._1)
    if (ids.distinct.size != ids.size) res += "a doc_id was written twice"
    res ++= limit(ids.filter(i => i < 0 || i >= nDocs).map(i => s"doc $i is not an input doc"))
    val kept = out.toMap
    res ++= limit((0 until nDocs).flatMap { i =>
      val k = Gen.kindOf(i)
      if (k == Gen.Kind.Twin && i % 20 == 2) None
      else if (k != Gen.Kind.Clean) kept.get(i.toLong).map(_ => s"planted $k doc $i kept")
      else {
        val want = Gen.curateLines(seed, i).collect { case (l, true) => l }.mkString("\n")
        kept.get(i.toLong) match {
          case None => Some(s"clean doc $i dropped")
          case Some(t) if t != want => Some(s"clean doc $i text is not its unique lines")
          case _ => None
        }
      }
    })
    val lines = out.flatMap(_._2.split("\n")).map(normLine)
    if (lines.distinct.size != lines.size) res += s"${lines.size - lines.distinct.size} output lines repeat"
    if (statsOutput != rowsWritten || rowsWritten != out.size)
      res += s"stats output_docs $statsOutput, rows written $rowsWritten, rows read back ${out.size}"
    res.result()
  }

  /** One merged table row as the checker reads it from merged_json. */
  final case class MergedRow(table: Int, rowIdx: Int, agreement: Int)

  /** Rows of a merged document's JSON, parsed with Jackson (not the
    * program's JSON layer). */
  def mergedRows(json: String): Seq[MergedRow] = {
    val root = Checks.Json.readTree(json)
    val rows = Seq.newBuilder[MergedRow]
    var t = 0
    root.get("tables").elements().forEachRemaining { table =>
      table.get("table_fragments").elements().forEachRemaining { frag =>
        frag.get("rows").elements().forEachRemaining { r =>
          rows += MergedRow(t, r.get("row_").asInt(-1), r.get("agreement_level_").asInt(-1))
        }
      }
      t += 1
    }
    rows.result()
  }

  private object Json extends com.fasterxml.jackson.databind.ObjectMapper

  /** merge_runs: one merged doc per input doc with tables, merged from
    * three runs; per table the distinct row indices equal the unperturbed
    * run's rows; each row agrees three ways, or, where the third run
    * disagrees, splits into a two-way row and a one-way row. */
  def merge(seed: Long, nDocs: Int, merged: Seq[(String, Int, String)],
      globalPapers: Long, globalRows: Long): Seq[String] = {
    val res = Seq.newBuilder[String]
    val specs = (0 until nDocs).map(Gen.pageSpec(seed, _)).filter(_.tables.nonEmpty)
    val byId = merged.groupBy(_._1)
    if (merged.size != specs.size) res += s"${merged.size} merged docs, ${specs.size} input docs with tables"
    res ++= limit(byId.collect { case (d, ms) if ms.size > 1 => s"$d merged ${ms.size} times" })
    var wantRows = 0L
    res ++= limit(specs.flatMap { s =>
      byId.get(s.url).map(_.head) match {
        case None => Seq(s"${s.url} not merged")
        case Some((_, nRuns, json)) =>
          val got = mergedRows(json).groupBy(r => (r.table, r.rowIdx)).map { case (k, rs) => k -> rs.map(_.agreement).sorted }
          val want = s.tables.zipWithIndex.flatMap { case (n, t) =>
            (0 until n).map(r => (t, r) -> (if (Gen.disagrees(seed, s.i, t, r)) Seq(1, 2) else Seq(3)))
          }.toMap
          wantRows += want.values.map(_.size).sum
          val perTable = s.tables.zipWithIndex.collect {
            case (n, t) if got.keys.count(_._1 == t) != n => s"${s.url} table $t has ${got.keys.count(_._1 == t)} rows, run 0 has $n"
          }
          (if (nRuns != 3) Seq(s"${s.url} merged from $nRuns runs") else Nil) ++ perTable ++
            want.collect { case (k, a) if !got.get(k).contains(a) => s"${s.url} row $k agreement ${got.get(k)}, planned $a" }
      }
    })
    if (globalPapers != specs.size || globalRows != wantRows)
      res += s"global stats: $globalPapers papers and $globalRows rows, expected ${specs.size} and $wantRows"
    res.result()
  }
}
