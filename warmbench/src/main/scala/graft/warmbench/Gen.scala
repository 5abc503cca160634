package graft.warmbench

import java.util.SplittableRandom

import graft.pages.SyntheticPages

/** Seeded input generators. Every value is a pure function of
  * (seed, document index), so a checker can recompute what any document
  * should produce without reading the program's output or its inputs.
  */
object Gen {

  def rng(seed: Long, salt: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt * 0xBF58476D1CE4E5B9L ^ i * 0x94D049BB133111EBL)

  private val Syl = Array(
    "ka", "lo", "mi", "ren", "tas", "vo", "qui", "zen", "dor", "fa", "gel", "hu", "jin", "ko",
    "lun", "mar", "nes", "op", "pra", "ris", "sul", "tor", "ul", "vex", "wim", "yor", "zal",
    "bri", "cor", "dus", "eth", "fiz", "gru", "hal", "ist", "jor", "kel", "lyr", "mog", "nix")
  // a few NFKC-stable non-ASCII words, so the extractor's non-ASCII text
  // path carries a realistic share of the blocks
  private val Accented = Array("café", "naïve", "señor", "straße", "über", "crème")

  /** 64000 distinct lowercase ASCII words. */
  def word(k: Int): String = Syl(k % 40) + Syl((k / 40) % 40) + Syl((k / 1600) % 40)

  def words(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(if (r.nextInt(50) == 0) Accented(r.nextInt(Accented.length)) else word(r.nextInt(64000)))

  // ------------------------------------------------------------------
  // Web pages (extract_warc, extract_resume, merge_runs, html sample)
  // ------------------------------------------------------------------

  /** One generated page: the program's fixture renderer,
    * `SyntheticPages.renderPage`, over seeded text. The renderer's table
    * mix depends on `docId` alone; `docId` is offset by the seed, so each
    * seed gets its own mix and text. */
  final case class PageSpec(i: Int, docId: Long, url: String, text: String, lang: String) {
    def html: String = SyntheticPages.renderPage(docId, text, lang)

    /** Data rows of each table the page carries, in page order, from
      * docId alone: a main table of 4 + id % 4 rows on every third id
      * (th-headed or headerless), a rowspan/colspan table of 2 rows on
      * every ninth, a 3-row continuation table on page 2 of every fifth
      * (id % 5 = 4), and otherwise a 4-row <pre> table on ids with
      * id % 7 = 1. */
    def tables: Seq[Int] = {
      val m3 = docId % 3 == 0
      val m5 = docId % 5 == 4
      (if (m3) Seq(4 + (docId % 4).toInt) else Nil) ++
        (if (docId % 9 == 0) Seq(2) else Nil) ++
        (if (m5) Seq(3) else Nil) ++
        (if (docId % 7 == 1 && !m3 && !m5) Seq(4) else Nil)
    }

    /** The body paragraphs the renderer cuts the text into: 2 to 4 equal
      * word slices, the count drawn from docId. */
    def paragraphs: Seq[String] = {
      val words = text.split(" ")
      val count = 2 + (SyntheticPages.mix(docId) % 3).toInt
      val chunk = math.max(words.length / count, 1)
      (0 until count).map(_ * chunk).takeWhile(_ < words.length)
        .map(w => words.slice(w, math.min(w + chunk, words.length)).mkString(" "))
    }
  }

  /** Text the renderer places in script, nav, header and footer, which
    * must never reach main_text. */
  val Boilerplate = Seq("not a table", "About this site", "Login portal link", "copyright row")

  def url(seed: Long, i: Int): String = f"https://bench$seed.example.org/doc/$i%07d"

  def docId(seed: Long, i: Int): Long = java.lang.Math.floorMod(seed, 1000L) * 1000000L + i

  /** 60 to 259 words; one page in five is Spanish, which adds the
    * renderer's typographic-punctuation paragraph. */
  def pageSpec(seed: Long, i: Int): PageSpec = {
    val r = rng(seed, 1, i)
    val text = words(r, 60 + r.nextInt(200)).mkString(" ")
    PageSpec(i, docId(seed, i), url(seed, i), text, if (r.nextInt(5) == 0) "es" else "en")
  }

  // ------------------------------------------------------------------
  // Curation corpus (curate_chain)
  // ------------------------------------------------------------------

  /** Planted document kinds, by doc index modulo 20. */
  object Kind extends Enumeration {
    val Boilerplate, LowQuality, Twin, SpanShare, Contaminated, Clean = Value
  }

  def kindOf(i: Int): Kind.Value = i % 20 match {
    case 0 => Kind.Boilerplate // every line repeats elsewhere: emptied by the strip
    case 1 => Kind.LowQuality // punctuation-heavy, too short for any 8-gram
    case 2 | 3 => Kind.Twin // doc 20g+2 and 20g+3 are byte-identical
    case 4 | 5 | 6 => Kind.SpanShare // share one 40-token passage inside unique lines
    case 7 => Kind.Contaminated // carries one benchmark item inside a unique line
    case _ => Kind.Clean
  }

  private val BoilerLines = Vector(
    "Subscribe to our newsletter for weekly updates.",
    "All rights reserved by the publisher.",
    "Cookies help us deliver our services.",
    "Share this page with your friends.",
    "Sign in to leave a comment below.",
    "Read our privacy policy before continuing.",
    "Advertisement continues after this line.",
    "Follow us on every network you use.",
    "Back to the top of the page.",
    "Terms of use apply to all content.")

  /** Case and indentation variants fold together under the strip's
    * lower(trim(line)) match. */
  private def boiler(r: SplittableRandom): String = {
    val l = BoilerLines(r.nextInt(BoilerLines.size))
    r.nextInt(3) match {
      case 0 => l
      case 1 => "  " + l.toUpperCase(java.util.Locale.ROOT)
      case _ => l.toLowerCase(java.util.Locale.ROOT) + "  "
    }
  }

  /** A line no other document shares: it opens with a token unique to
    * (doc, line). */
  private def uniqueLine(r: SplittableRandom, i: Int, j: Int, n: Int): String =
    (s"u${Integer.toString(i, 36)}l$j" +: words(r, n)).mkString(" ") + "."

  def benchItem(seed: Long, g: Int): String =
    words(rng(seed, 3, g), 12).map(w => "b" + w).mkString(" ")

  private def passage(seed: Long, g: Int): String =
    words(rng(seed, 4, g), 40).map(w => "s" + w).mkString(" ")

  /** The lines of doc `i`, each flagged true when no other document
    * shares it (a clean doc keeps exactly those). */
  def curateLines(seed: Long, i: Int): Seq[(String, Boolean)] = {
    val r = rng(seed, 2, i)
    val g = i / 20
    kindOf(i) match {
      case Kind.Boilerplate => Seq.fill(2 + r.nextInt(4))((boiler(r), false))
      case Kind.LowQuality => Seq((s"u${Integer.toString(i, 36)}q !!!! ???? ;;;; ,,,, ....", true))
      case Kind.Twin =>
        val t = rng(seed, 5, g)
        Seq.tabulate(3)(j => (uniqueLine(t, 20 * g + 2, j, 10), false))
      case Kind.SpanShare =>
        Seq(uniqueLine(r, i, 0, 4).dropRight(1) + " " + passage(seed, g) + " " + words(r, 4).mkString(" ") + ".",
          uniqueLine(r, i, 1, 8)).map((_, true))
      case Kind.Contaminated =>
        Seq(uniqueLine(r, i, 0, 12), uniqueLine(r, i, 1, 3).dropRight(1) + " " + benchItem(seed, g) + " end.",
          uniqueLine(r, i, 2, 10)).map((_, true))
      case _ =>
        val lines = scala.collection.mutable.ArrayBuffer.tabulate(3 + r.nextInt(6))(j =>
          (uniqueLine(r, i, j, 8 + r.nextInt(13)), true))
        (0 until 1 + r.nextInt(3)).foreach(_ => lines.insert(r.nextInt(lines.size + 1), (boiler(r), false)))
        lines.toSeq
    }
  }

  def curateDoc(seed: Long, i: Int): String = curateLines(seed, i).map(_._1).mkString("\n")

  /** The benchmark table: the item each contaminated doc carries, plus as
    * many items no document carries. */
  def benchItems(seed: Long, nDocs: Int): Seq[String] = {
    val groups = (nDocs + 19) / 20
    (0 until groups).filter(g => 20 * g + 7 < nDocs).map(benchItem(seed, _)) ++
      (0 until groups).map(g => benchItem(seed, 1000000 + g))
  }

  // ------------------------------------------------------------------
  // Merge runs (merge_runs)
  // ------------------------------------------------------------------

  /** True when the third run disagrees on a cell of (doc, table, row). */
  def disagrees(seed: Long, i: Int, t: Int, row: Int): Boolean =
    rng(seed, 6, i * 64L + t * 16 + row).nextInt(5) == 0

  def disagreeValue(i: Int, t: Int, row: Int): String = s"conflict $i $t $row"
}
