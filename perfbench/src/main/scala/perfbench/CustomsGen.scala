package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.etl.KnowledgeBase

/** Seeded generator of customs batches in the 27-column
  * `CustomsSource.inputSchema` layout, written as quoted CSV.
  *
  * Every row belongs to exactly one category, and each category gets an
  * exact row count (`round(share * rows)`, the remainder going to
  * `NoMatch`), so the shares come out as requested rather than only in
  * expectation. Brands, models and regex tokens are drawn from
  * `KnowledgeBase.sampleModelKbRows` / `sampleRegexKbRows`, the tables the
  * benchmark hands to the pipeline. The same (seed, spec) always yields the
  * same bytes.
  */
object CustomsGen {

  sealed abstract class Category(val key: String)
  /** Brand and a KB model literally in the description: "Fully match". */
  case object KbHit extends Category("kb_hit")
  /** Brand plus a model token only the brand's regex recognises. */
  case object RegexOnly extends Category("regex_only")
  /** A regex model token with no brand anywhere in the row. */
  case object NoBrand extends Category("no_brand")
  /** Description holds an irrelevant keyword; `dropIrrelevant` drops it. */
  case object Irrelevant extends Category("irrelevant")
  /** Spare-parts shipment; `markParts` labels it "Parts". */
  case object Parts extends Category("parts")
  /** KB hit marked as used equipment. */
  case object Used extends Category("used")
  /** Amount under 10 000 USD; `prepare` filters it out. */
  case object LowValue extends Category("low_value")
  /** Machinery with no brand or model (sometimes "N TONS" capacity). */
  case object NoMatch extends Category("no_match")

  val categories: Seq[Category] =
    Seq(KbHit, RegexOnly, NoBrand, Irrelevant, Parts, Used, LowValue, NoMatch)

  /** Category shares; `NoMatch` takes whatever the others leave. */
  val defaultShares: Map[Category, Double] = Map(
    KbHit -> 0.40, RegexOnly -> 0.12, NoBrand -> 0.08, Irrelevant -> 0.08,
    Parts -> 0.07, Used -> 0.10, LowValue -> 0.05)

  /** @param months (year, month) pairs; row dates are spread over them. */
  final case class Spec(rows: Int, months: Seq[(Int, Int)], batchTag: String,
      shares: Map[Category, Double] = defaultShares)

  final case class Batch(path: Path, rows: Int, counts: Map[Category, Int]) {
    /** Rows the pipeline keeps: everything but irrelevant and low-value. */
    def expectedOut: Long = rows.toLong - counts(Irrelevant) - counts(LowValue)
  }

  /** Exact per-category counts for `rows` rows. */
  def counts(rows: Int, shares: Map[Category, Double]): Map[Category, Int] = {
    val fixed = categories.filter(_ != NoMatch)
      .map(c => c -> math.round(shares.getOrElse(c, 0.0) * rows).toInt).toMap
    require(fixed.values.sum <= rows, s"shares exceed 1: $shares")
    fixed + (NoMatch -> (rows - fixed.values.sum))
  }

  private val kbRows = KnowledgeBase.sampleModelKbRows
  private val kbModels: Set[String] = kbRows.map(_._2).toSet

  /** Literal prefix of each regex-KB pattern ("PC ?\\d{2,4}" -> "PC"),
    * paired with its brand: prefix + digits matches the pattern. */
  private val regexTokens: Seq[(String, String)] =
    KnowledgeBase.sampleRegexKbRows.map { case (brand, pat, _, _, _) =>
      brand -> pat.takeWhile(_.isLetterOrDigit)
    }

  private val machines = Seq("HYDRAULIC EXCAVATOR", "CRAWLER EXCAVATOR",
    "WHEEL EXCAVATOR", "ROUGH TERRAIN CRANE", "CRAWLER CRANE", "WHEELED CRANE",
    "MINI EXCAVATOR", "EXCAVATOR")
  private val fillers = Seq("COMPLETE UNIT", "WITH STANDARD BUCKET", "ENGINE DIESEL",
    "FOR MINING", "FOR CONSTRUCTION", "YEAR OF MANUFACTURE 2023", "SERIAL NO",
    "STANDARD ARM", "GOOD CONDITION")
  private val irrelevant = graft.etl.Pipeline.irrelevantKeywords
  private val partsWords = Seq("SPARE PARTS FOR", "PARTS OF", "SKD KIT FOR",
    "PARTIAL SHIPMENT", "ASSEMBLE PARTS")
  private val suppliers = Seq("PT MAJU JAYA", "GLOBAL MACHINERY TRADING",
    "ASIA HEAVY EQUIPMENT CO LTD", "PACIFIC EQUIPMENT PTE", "NUSANTARA MESIN",
    "EURO PLANT SUPPLY GMBH")
  private val countries = Seq("CHINA", "JAPAN", "KOREA", "GERMANY", "USA", "THAILAND")
  private val ports = Seq("TANJUNG PRIOK", "TANJUNG PERAK", "BELAWAN", "MAKASSAR")

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  /** A model token for `brand`'s regex that is not a literal KB model. */
  private def regexModel(r: SplittableRandom, prefix: String): String = {
    var tok = ""
    while (tok.isEmpty || kbModels.exists(tok.contains)) {
      val digits = if (prefix.length == 1) 2 else 2 + r.nextInt(2)
      tok = prefix + (0 until digits).map(_ => ('1' + r.nextInt(9)).toChar).mkString
    }
    tok
  }

  private def description(r: SplittableRandom, cat: Category): String = {
    val kb = pick(r, kbRows)
    val machine = pick(r, machines)
    val filler = pick(r, fillers)
    cat match {
      case KbHit | LowValue => s"${kb._1} ${kb._2} $machine, $filler"
      case Used => s"USED ${kb._1} ${kb._2} $machine, $filler"
      case RegexOnly =>
        val (b, p) = pick(r, regexTokens)
        s"$b ${regexModel(r, p)} $machine $filler"
      case NoBrand =>
        val (_, p) = pick(r, regexTokens)
        s"$machine MODEL ${regexModel(r, p)}, $filler"
      case Irrelevant => s"${kb._1} ${pick(r, irrelevant)} $filler"
      case Parts => s"${pick(r, partsWords)} ${kb._1} ${kb._2} $machine"
      case NoMatch =>
        if (r.nextBoolean()) s"$machine ${5 + r.nextInt(80)} TONS $filler"
        else s"$machine $filler"
    }
  }

  private def quoted(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  /** Write the batch to `path` and return its row accounting. */
  def write(seed: Long, spec: Spec, path: Path): Batch = {
    val r = new SplittableRandom(seed)
    val n = spec.rows
    val cnt = counts(n, spec.shares)
    // exact category multiset, Fisher-Yates shuffled with the batch seed
    val cats = new Array[Category](n)
    var k = 0
    for (c <- categories; _ <- 0 until cnt(c)) { cats(k) = c; k += 1 }
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = cats(i); cats(i) = cats(j); cats(j) = t
    }
    val sb = new java.lang.StringBuilder(n * 420)
    sb.append(graft.sources.CustomsSource.inputSchema.fieldNames.map(quoted).mkString(","))
      .append('\n')
    for (i <- 0 until n) {
      val cat = cats(i)
      val (y, m) = spec.months(r.nextInt(spec.months.size))
      val d = 1 + r.nextInt(28)
      val qty = 1 + r.nextInt(3)
      val unitPrice =
        if (cat == LowValue) 1000.0 + r.nextInt(8000) else 20000.0 + r.nextInt(380000)
      val amount = unitPrice * qty
      val weightKg = qty * (2000 + r.nextInt(78000))
      val supplier = pick(r, suppliers)
      val fields = Seq(
        f"$y%04d$m%02d", "84295200", description(r, cat), "SELF-PROPELLED MACHINERY",
        s"PT IMPORTER ${r.nextInt(400)}", supplier, pick(r, countries), "",
        qty.toString, "UNIT", f"$amount%.2f", f"$unitPrice%.2f", f"$amount%.2f",
        f"$unitPrice%.2f", f"$y%04d-$m%02d-$d%02d", s"${spec.batchTag}-$i",
        "IMPORT", pick(r, ports), pick(r, ports), s"JL INDUSTRI ${r.nextInt(90)} JAKARTA",
        s"$supplier ADDRESS", "USD", f"${amount * 15500}%.0f", f"${unitPrice * 15500}%.0f",
        f"${amount / weightKg}%.4f", weightKg.toString, f"${weightKg / 1000.0}%.3f")
      var f = 0
      while (f < fields.size) {
        if (f > 0) sb.append(',')
        sb.append(quoted(fields(f)))
        f += 1
      }
      sb.append('\n')
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
    Batch(path, n, cnt)
  }

  /** Derive an independent seed for batch `idx` of stream `tag`. */
  def subSeed(seed: Long, tag: String, idx: Int): Long =
    new SplittableRandom(seed ^ (tag.hashCode.toLong << 32) ^ (idx.toLong * 0x9E3779B97F4A7C15L))
      .nextLong()
}
