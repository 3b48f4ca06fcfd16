package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

sealed trait Kind
case object Pz extends Kind
case object Pa extends Kind

/** One generated input file and the exact outcome the pipeline must
  * produce for it. Every field is counted while the file is written, so
  * the checks in [[Flow]] compare the engine against the generator, not
  * against a second implementation of the rules. */
final case class InputFile(
    kind: Kind,
    path: String,
    name: String,
    rows: Long,
    /** Price-zone: rows of the opcos that survive validation. PA: rows
      * routed to a cluster (mapped and active opcos). */
    valid: Long,
    /** Price-zone opcos the report must list as failed, sorted. */
    failedOpcos: Seq[String],
    /** Price-zone violations per rule name; rules absent here must be 0. */
    violations: Map[String, Long],
    /** The whole file must be refused with "no valid records". */
    rejected: Boolean,
    /** PA rows whose price is <= 0. */
    invalidPrice: Long,
    /** Opco -> rows its target table must hold after the load. */
    tableRows: Map[String, Long],
    /** Opco -> earliest effective_date; full loads write it to the master table. */
    minEffective: Map[String, String],
    sizeBytes: Long)

/** Pass shape: how many files of each pipeline, and how big. Every
  * `poisonOdds`-th single-opco price-zone file of a run (the phase set by
  * the seed) is poisoned whole, so runs of equal length reject the same
  * share of files. */
final case class Shape(pzFiles: Int, paFiles: Int, rowsPerFile: Int, singleOpco: Boolean,
    poisonOdds: Int = 9)

/** Seeded input generator for both reference pipelines.
  *
  * Opcos 001-024; 021-024 are inactive. PA maps 001-018 and 021-022 to
  * clusters 01/02 (odd/even); 019, 020, 023 and 024 are unmapped, so PA
  * loads exactly 001-018. Keys are unique per opco: price-zone rows use
  * a per-opco running supc, PA rows a per-opco running ITEM_ID.
  *
  * Multi-opco files cover six opcos. Price-zone: five active (one of
  * them poisoned) and one inactive, so a third of the opcos fail. PA:
  * four that load, one unmapped and one inactive.
  */
object Gen {
  val Opcos: IndexedSeq[String] = (1 to 24).map(i => f"$i%03d")
  val Inactive: Set[String] = Set("021", "022", "023", "024")
  val Active: Seq[String] = Opcos.filterNot(Inactive)
  val Mapping: Seq[(String, String)] =
    (Opcos.take(18) ++ Seq("021", "022")).map(o => o -> (if (o.toInt % 2 == 1) "01" else "02"))
  val PaLoaded: Seq[String] = Mapping.map(_._1).filterNot(Inactive)
  val Clusters: Seq[String] = Seq("01", "02")

  val MultiPz: Seq[String] = Opcos.take(5) :+ "021"
  val MultiPa: Seq[String] = Opcos.take(4) ++ Seq("019", "021")

  val PartialPrefixes: Seq[String] = Seq("ctt_")
  val FullPrefixes: Seq[String] = Seq("wtp_")

  /** Single-rule defects: each value trips exactly one price-zone rule. */
  private val Defects: IndexedSeq[(String, Array[String] => Unit)] = IndexedSeq(
    "customer_id_nonnull_numeric" -> (r => r(3) = "12X45"),
    "supc_nonnull_numeric" -> (r => r(1) = "9A9"),
    "price_zone_nonnull_numeric" -> (r => r(2) = "Z"),
    "price_zone_range_1_5" -> (r => r(2) = "7"),
    "eff_from_dttm_parseable_ts" -> (r => r(4) = "2024-02-30 10:00:00"),
    "customer_id_maxlen_14" -> (r => r(3) = "123456789012345"),
    "supc_maxlen_9" -> (r => r(1) = "1234567890"))
  private val MembershipRule = "opco_id_membership"

  def rng(seed: Long, pass: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + pass * 0xBF58476D1CE4E5B9L + 1L)

  /** One pass of input files under `dir`, interleaved in arrival order. */
  def pass(dir: File, seed: Long, pass: Int, shape: Shape): Seq[InputFile] = {
    dir.mkdirs()
    val r = rng(seed, pass)
    val pzOpcos = shuffled(r, Active)
    val paOpcos = shuffled(r, PaLoaded)
    require(!shape.singleOpco || (shape.pzFiles <= pzOpcos.size && shape.paFiles <= paOpcos.size),
      "single-opco passes use distinct opcos per file")
    val phase = new SplittableRandom(seed).nextInt(shape.poisonOdds)
    val pz = (0 until shape.pzFiles).map { i =>
      val prefix = if (shape.singleOpco) "CTT" else "WTP"
      val f = new File(dir, f"${prefix}_PRICE_ZONE_$pass%04d_$i%02d.csv")
      val poison = Math.floorMod(pass * shape.pzFiles + i + phase, shape.poisonOdds) == 0
      if (shape.singleOpco) pzFile(f, r, shape.rowsPerFile, Seq(pzOpcos(i)), poison)
      else pzFile(f, r, shape.rowsPerFile, MultiPz, poison = true)
    }
    val pa = (0 until shape.paFiles).map { i =>
      val f = new File(dir, f"PA_EXPORT_$pass%04d_$i%02d.csv")
      paFile(f, r, shape.rowsPerFile, if (shape.singleOpco) Seq(paOpcos(i)) else MultiPa)
    }
    shuffled(r, pz ++ pa)
  }

  private def shuffled[A](r: SplittableRandom, xs: Seq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  private def writer(f: File): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)

  private def two(n: Int): String = if (n < 10) "0" + n else n.toString

  private def timestamp(r: SplittableRandom): String =
    "2024-" + two(1 + r.nextInt(12)) + "-" + two(1 + r.nextInt(28)) + " " +
      two(r.nextInt(24)) + ":" + two(r.nextInt(60)) + ":" + two(r.nextInt(60))

  /** Price-zone comma CSV. When poisoned, a file carries one bad row in
    * one active opco; in a single-opco file that rejects the whole file. */
  private def pzFile(f: File, r: SplittableRandom, rows: Int, opcos: Seq[String],
      poison: Boolean): InputFile = {
    val poisoned: Map[String, Int] =
      if (!poison) Map.empty
      else Map(shuffled(r, opcos.filterNot(Inactive)).head -> r.nextInt(Defects.size))
    val perOpco = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val minEff = scala.collection.mutable.Map[String, String]()
    val violations = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val w = writer(f)
    try {
      w.write("co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm,src_sys\n")
      var i = 0
      while (i < rows) {
        // the first |opcos| rows visit every opco once, so every poisoned
        // opco has a row to carry its defect even in tiny files
        val opco = if (i < opcos.size) opcos(i) else opcos(r.nextInt(opcos.size))
        val n = perOpco(opco) + 1
        perOpco(opco) = n
        val eff = timestamp(r)
        val row = Array(opco, n.toString, (1 + r.nextInt(5)).toString,
          (1000000L + r.nextInt(900000000)).toString, eff, "PRC")
        if (n == 1 && poisoned.contains(opco)) {
          val (rule, apply) = Defects(poisoned(opco))
          apply(row)
          violations(rule) += 1
        } else if (!poisoned.contains(opco) && !Inactive(opco)) {
          if (minEff.get(opco).forall(eff < _)) minEff(opco) = eff
        }
        if (Inactive(opco)) violations(MembershipRule) += 1
        w.write(row.mkString(","))
        w.write('\n')
        i += 1
      }
    } finally w.close()
    val failed = perOpco.keys.filter(o => Inactive(o) || poisoned.contains(o)).toSeq.sorted
    val loaded = perOpco.filter { case (o, _) => !failed.contains(o) }.toMap
    InputFile(Pz, f.getAbsolutePath, f.getName, perOpco.values.sum, loaded.values.sum,
      failed, violations.toMap, rejected = loaded.isEmpty, invalidPrice = 0L,
      tableRows = loaded, minEffective = minEff.toMap, sizeBytes = f.length())
  }

  /** PA pipe CSV: opcos route to clusters 01/02 or to the invalid
    * bucket (unmapped or inactive); one price in a thousand is <= 0. */
  private def paFile(f: File, r: SplittableRandom, rows: Int, opcos: Seq[String]): InputFile = {
    val perOpco = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var badPrice = 0L
    val w = writer(f)
    try {
      w.write("ITEM_ID|EFFECTIVE_DATE|CURRENT_PRICE|REASON|NEW_PRICE|" +
        "LOCAL_REFERENCE_PRICE|EXPORT_DATE|ITEM_ATTR_5_NM|PRICE_ZONE_ID\n")
      var i = 0
      while (i < rows) {
        val opco = if (i < opcos.size) opcos(i) else opcos(r.nextInt(opcos.size))
        val n = perOpco(opco) + 1
        perOpco(opco) = n
        val price =
          if (r.nextInt(1000) == 0) { badPrice += 1; if (r.nextBoolean()) "0.00" else "-1.25" }
          else "%.2f".formatLocal(java.util.Locale.ROOT, 0.5 + r.nextDouble() * 99.0)
        val eff = timestamp(r)
        w.write(Seq(
          "%07d".format(n), eff, "10.00", "REPRICE", "11.00", price,
          "2024-07-14 23:00:00", if (r.nextBoolean()) "Y" else "N",
          s"$opco-${1 + r.nextInt(5)}").mkString("|"))
        w.write('\n')
        i += 1
      }
    } finally w.close()
    val loaded = perOpco.filter { case (o, _) => PaLoaded.contains(o) }.toMap
    InputFile(Pa, f.getAbsolutePath, f.getName, perOpco.values.sum, loaded.values.sum,
      Seq.empty, Map.empty, rejected = false, invalidPrice = badPrice,
      tableRows = loaded, minEffective = Map.empty, sizeBytes = f.length())
  }
}
