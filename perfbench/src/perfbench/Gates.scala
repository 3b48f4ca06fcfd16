package perfbench

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom
import scala.io.Source
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The gate sample: engine queries the two pipelines never run (operators,
  * the plan rules, expression kernels, dedup, similarity, sketches,
  * streaming), run over small generated tables of the shape the gates read.
  *
  * The tables come from one fixed seed, so each gate's row count is the
  * same in every run; the counts this commit gives are recorded in
  * `perfbench/gates.expected` and every gate run is checked against them.
  * The run's `--seed` sets the order the gates run in. */
object Gates {
  /** At least one gate for each layer the pipelines leave out (README.md,
    * "Gate sample"). */
  val Sample: Seq[String] = Seq(
    "q1_agg", "q3_join_broadcast", "q8_window",
    "x54_asof_native", "x63_interval_sql", "x77_eager_agg", "x79_distinct_elim",
    "v1_rule_flags", "d5_dedup_clusters", "t52_bm25", "sk5_cms_heavy", "sk10_ddsketch",
    "st4_stream_stream")

  /** Fixed: the expected counts are recorded for these tables. */
  val DataSeed = 20240715L
  /** Rows of `lineitem`; the other tables keep TPC-H-like proportions. */
  val LineitemRows = 24000

  final case class Outcome(name: String, seconds: Double, rows: Long, error: Option[String])

  /** Runs `names` once each, in order, with the engine's own cross-gate
    * housekeeping between them (untimed). */
  def pass(spark: SparkSession, dir: String, names: Seq[String], tracer: Tracer): Seq[Outcome] =
    names.map { n =>
      val q = graft.SparkEntry.queries(n)
      val t0 = System.nanoTime()
      val o = try {
        val rows = tracer.span("gate", s"gate:$n")(q(spark, dir).count())
        Outcome(n, (System.nanoTime() - t0) / 1e9, rows, None)
      } catch { case NonFatal(e) => Outcome(n, (System.nanoTime() - t0) / 1e9, -1L, Some(e.toString)) }
      tracer.span("gates.hygiene", "gates.hygiene")(graft.BenchSupport.hygiene(spark))
      o
    }

  /** Gate name -> row count, from `name count` lines. */
  def expected(file: File): Map[String, Long] = {
    val src = Source.fromFile(file, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, c) = l.split("\\s+")
      n -> c.toLong
    }.toMap finally src.close()
  }

  /** Errors of one pass against the recorded counts. */
  def check(outcomes: Seq[Outcome], want: Map[String, Long]): Seq[String] =
    outcomes.flatMap { o =>
      o.error.map(e => s"gate ${o.name} failed: $e").orElse(want.get(o.name) match {
        case Some(c) if c == o.rows => None
        case Some(c) => Some(s"gate ${o.name}: got ${o.rows} rows, expected $c")
        case None => Some(s"gate ${o.name}: no recorded count")
      })
    }

  private def shuffled[A](r: SplittableRandom, xs: Seq[A]): Seq[A] =
    xs.map(x => (r.nextLong(), x)).sortBy(_._1).map(_._2)

  /** Gate order for pass `pass` of a run. */
  def order(seed: Long, pass: Int): Seq[String] = shuffled(Gen.rng(seed, 10000 + pass), Sample)

  /** Writes the ten tables as one parquet directory each under `dir`. */
  def writeTables(spark: SparkSession, dir: File): Unit = {
    val r = new SplittableRandom(DataSeed)
    val li = LineitemRows
    val nOrders = li / 3
    val nCust = li / 40
    val nPart = li * 2 / 60
    val nSupp = math.max(10, li / 600)
    val nEvents = li / 6
    val nDocs = li / 12
    val nVecs = li / 12
    def ts(millis: Long) = new Timestamp(millis)
    val day = 86400000L
    val orderEpoch = java.time.Instant.parse("1995-01-01T00:00:00Z").toEpochMilli
    val eventEpoch = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    def money(x: Double) = math.round(x * 100) / 100.0
    def pick[A](xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(new File(dir, s"$name.parquet").getPath)
    def f(n: String, t: DataType) = StructField(n, t)

    val regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType), f("c_nationkey", IntegerType),
      f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999 + r.nextDouble() * 10998), pick(segments))))
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType), f("s_nationkey", IntegerType),
      f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(-999 + r.nextDouble() * 10998))))
    val adjectives = IndexedSeq("cold", "small", "large", "red", "blue", "green", "metal", "plastic")
    val nouns = IndexedSeq("widget", "bolt", "gear", "spring", "valve", "panel")
    val types = IndexedSeq("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
      f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}", s"Brand#${1 + r.nextInt(25)}",
        pick(types), 1 + r.nextInt(50), money(900 + (i % 1000) * 0.1))))
    val status = IndexedSeq("F", "O", "P")
    val priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDates = (0 until nOrders).map(_ => orderEpoch + r.nextInt(2404) * day)
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType), f("o_orderstatus", StringType),
      f("o_totalprice", DoubleType), f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong, pick(status),
        money(1000 + r.nextDouble() * 400000), ts(orderDates(i)), pick(priorities))))
    val lines = scala.collection.mutable.ArrayBuffer[Row]()
    var o = 0
    while (lines.size < li && o < nOrders) {
      val n = 1 + r.nextInt(7)
      var k = 1
      while (k <= n && lines.size < li) {
        val q = (1 + r.nextInt(50)).toDouble
        lines += Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, k, q,
          money(q * (900 + r.nextDouble() * 1200)), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          pick(IndexedSeq("A", "N", "R")), pick(IndexedSeq("F", "O")),
          ts(orderDates(o) + (1 + r.nextInt(120)) * day))
        k += 1
      }
      o += 1
    }
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType), f("l_suppkey", LongType),
      f("l_linenumber", IntegerType), f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
      f("l_discount", DoubleType), f("l_tax", DoubleType), f("l_returnflag", StringType),
      f("l_linestatus", StringType), f("l_shipdate", TimestampType))), lines.toSeq)
    val eventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
    val users = math.max(15, nEvents / 60)
    var t = eventEpoch
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType), f("user_id", LongType),
      f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
      (0 until nEvents).map { i =>
        t += r.nextInt((30 * day / nEvents).toInt * 2)
        Row(i.toLong, ts(t), r.nextInt(users).toLong, pick(eventTypes), money(r.nextDouble() * 300),
          s"""{"k": ${r.nextInt(100)}}""")
      })
    val words = IndexedSeq("the", "a", "fast", "slow", "key", "order", "sort", "table", "scan", "merge", "part",
      "window", "small", "big", "hash", "join", "batch", "stream", "spark", "dup", "group", "query", "row", "data",
      "filter", "customer", "line", "value", "agg", "column", "vector")
    val langs = IndexedSeq("en", "en", "en", "de", "fr", "es", "zh")
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
      f("source", StringType), f("n_chars", LongType))),
      (0 until nDocs).map { i =>
        // one document in five copies an earlier one with a word changed,
        // so the dedup and similarity gates find real pairs
        val text =
          if (texts.nonEmpty && r.nextInt(5) == 0) {
            val base = texts(r.nextInt(texts.size)).split(' ')
            base(r.nextInt(base.length)) = pick(words)
            base.mkString(" ")
          } else Seq.fill(20 + r.nextInt(60))(pick(words)).mkString(" ")
        texts += text
        Row(i.toLong, text, pick(langs), s"src${r.nextInt(20)}", text.length.toLong)
      })
    write("embeddings", StructType(Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType, containsNull = false)),
      f("label", IntegerType))),
      (0 until nVecs).map { i =>
        val label = r.nextInt(10)
        Row(i.toLong, (0 until 64).map(d => (((label * 7 + d) % 10) / 10.0 + r.nextGaussian() * 0.1).toFloat), label)
      })
  }

  /** Records the sample's row counts for this commit.
    *
    * `perfbench.Gates --work DIR --out FILE` generates the tables, runs
    * the sample twice and writes `name count` lines; it exits 1 if a gate
    * fails or gives two different counts. */
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(args("work"))
    val spark = Main.session(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4), new File(work, "spark-local"))
    val dir = new File(work, "gate-tables")
    writeTables(spark, dir)
    val off = new Tracer(false)
    val runs = Seq.fill(2)(pass(spark, dir.getPath, Sample, off))
    spark.stop()
    runs.transpose.foreach(os => System.err.println(
      f"${os.head.name}%-26s ${os.map(o => f"${o.seconds}%.2fs").mkString(" ")} rows=${os.map(_.rows).mkString("/")}" +
        os.flatMap(_.error).headOption.map(e => s" ERROR $e").getOrElse("")))
    val bad = runs.transpose.filter(os => os.exists(_.error.nonEmpty) || os.map(_.rows).distinct.size > 1)
      .map(_.head.name).toSet
    if (bad.nonEmpty) { System.err.println(s"unstable or failing: ${bad.toSeq.sorted.mkString(", ")}"); sys.exit(1) }
    val w = new java.io.PrintWriter(new File(args("out")), "UTF-8")
    try {
      w.println(s"# gate row counts over the tables of Gates.DataSeed=$DataSeed, LineitemRows=$LineitemRows")
      runs.head.sortBy(_.name).foreach(o => w.println(s"${o.name} ${o.rows}"))
    } finally w.close()
  }
}
