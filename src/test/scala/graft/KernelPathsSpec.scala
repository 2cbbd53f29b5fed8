package graft

import java.lang.{Double => JDouble, Float => JFloat, Long => JLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.types._

/** Every native kernel in [[GraftExtensions.Functions]] runs the same
  * inputs down both of Spark's execution paths and must return
  * bit-identical results:
  *  - interpreted: whole-stage codegen off and expression codegen off
  *    (`spark.sql.codegen.factoryMode=NO_CODEGEN`), so the projection
  *    calls each expression's `eval`;
  *  - generated: whole-stage codegen on, `CODEGEN_ONLY` and no fallback,
  *    so the projection runs each expression's `doGenCode` text.
  *
  * Each table row has a generator of edge inputs (NULLs, empty arrays,
  * NaN and ±0.0, unequal lengths, odd grid lengths, out-of-range PQ
  * codes, empty/multibyte/accented text, window = 1 and strings shorter
  * than k) plus seeded random inputs; the census fails when a row has
  * none. Inputs sit behind `repartition(1)`, so `ConvertToLocalRelation`
  * cannot evaluate the projection before it is planned. Doubles compare
  * by raw bits, except that NaN equals NaN. */
class KernelPathsSpec extends SparkSpec {
  import KernelPathsSpec._

  private def session(wholeStage: Boolean, factoryMode: String): SparkSession = {
    val s = spark.newSession()
    GraftExtensions.install(s)
    s.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    s.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }
  private lazy val interpreted = session(wholeStage = false, "NO_CODEGEN")
  private lazy val generated = session(wholeStage = true, "CODEGEN_ONLY")

  /** Runs the probe's calls over its rows on `s`; rows come back in id
    * order. Checks that the projection was planned (not folded) and sits
    * inside whole-stage codegen exactly when `s` is `generated`. */
  private def run(s: SparkSession, name: String, p: Probe): Seq[Row] = {
    val df = s.createDataFrame(p.rows.asJava, p.schema).repartition(1)
      .selectExpr("id" +: p.calls.zipWithIndex.map { case (c, i) => s"$c AS c$i" }: _*)
    val plan = df.queryExecution.executedPlan
    val projects = plan.collect { case pe: ProjectExec => pe }
    assert(projects.exists(_.projectList.exists(_.toString.contains(name))),
      s"$name is not in a planned projection:\n$plan")
    val inWholeStage = plan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.child.exists(_.isInstanceOf[ProjectExec]))
    assert(inWholeStage == (s eq generated), s"$name whole-stage=$inWholeStage:\n$plan")
    df.collect().toSeq.sortBy(_.getLong(0))
  }

  test("census: every GraftExtensions.Functions row has an edge-input generator") {
    val names = GraftExtensions.Functions.map(_.name)
    val missing = names.filterNot(probes.contains)
    assert(missing.isEmpty, s"rows with no generator: ${missing.mkString(", ")}")
    val stale = probes.keys.filterNot(names.contains)
    assert(stale.isEmpty, s"generators for no row: ${stale.mkString(", ")}")
    probes.foreach { case (name, p) =>
      assert(p.calls.nonEmpty && p.calls.forall(_.startsWith(name + "(")), name)
      assert(p.rows.size >= 20, s"$name: ${p.rows.size} inputs")
    }
  }

  for (name <- GraftExtensions.Functions.map(_.name); p <- probes.get(name))
    test(s"$name: interpreted eval == generated code, bit for bit") {
      val a = run(interpreted, name, p)
      val b = run(generated, name, p)
      assert(a.size == p.rows.size && b.size == a.size)
      a.zip(b).foreach { case (x, y) =>
        assert(same(x, y), s"$name id ${x.getLong(0)}: eval=$x codegen=$y")
      }
    }
}

object KernelPathsSpec {

  /** One kernel's inputs: rows of `schema` (first column `id`), and the
    * SQL calls evaluated over them. */
  final case class Probe(schema: StructType, rows: Seq[Row], calls: Seq[String])

  /** Bit identity of collected values; NaN equals NaN. */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: JDouble, y: JDouble) =>
      (x.isNaN && y.isNaN) || JDouble.doubleToRawLongBits(x) == JDouble.doubleToRawLongBits(y)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case _ => a == b
  }

  private val rnd = new scala.util.Random(42)

  private def schema(cols: (String, DataType)*): StructType =
    StructType(StructField("id", LongType, nullable = false) +:
      cols.map { case (n, t) => StructField(n, t) })
  private def rows(values: Seq[Seq[Any]]): Seq[Row] =
    values.zipWithIndex.map { case (v, i) => Row.fromSeq(i.toLong +: v) }
  private def pairs[A](xs: Seq[A]): Seq[(A, A)] = for (x <- xs; y <- xs) yield (x, y)

  // --- text -----------------------------------------------------------
  private val codePoints = Seq("a", "b", "Z", "9", " ", "\u00e9", "ß", "中", "語", "😀", "🚀",
    "e\u0301", "Å", "\u0000")
  private def randomText(maxLen: Int): String =
    Seq.fill(rnd.nextInt(maxLen + 1))(codePoints(rnd.nextInt(codePoints.size))).mkString
  val strings: Seq[String] = Seq(null, "", "a", "ab", "abc", "abcdefgh", "abcdefghijk",
    "abcdefghijklmnop", "the quick brown fox", "caf\u00e9", "cafe\u0301", "Ærøskøbing",
    "naïve façade", "中文的文字", "😀😀😀", "añé日本語😀", "a\u0000b", "x" * 300) ++
    Seq.fill(24)(randomText(40))
  private val shortStrings: Seq[String] =
    Seq(null, "", "a", "ab", "ba", "abc", "acb", "caf\u00e9", "cafe", "cafe\u0301",
      "中文", "文中", "😀a", "a😀", "martha", "marhta", "dixon", "dicksonx")

  // --- float grids and vectors -----------------------------------------
  private val floatEdges: Seq[JFloat] = Seq(0f, -0f, 1f, -1f, 0.5f, Float.NaN,
    Float.PositiveInfinity, Float.NegativeInfinity, Float.MinPositiveValue,
    Float.MaxValue, 0.00005f, -0.00005f, 0.00015f, -0.00015f).map(JFloat.valueOf)
  private def randomFloats(n: Int): Seq[JFloat] = Seq.fill(n)(
    if (rnd.nextInt(10) == 0) floatEdges(rnd.nextInt(floatEdges.size))
    else JFloat.valueOf(rnd.nextFloat() * 2 - 1))
  val grids: Seq[Seq[JFloat]] =
    Seq(null, Seq.empty, Seq(null), Seq(null, null), Seq[JFloat](1f, null, 0.5f),
      floatEdges, Seq[JFloat](-0f, 0f), Seq[JFloat](0f, -0f)) ++
      Seq(1, 2, 3, 5, 15, 16, 17, 31, 32, 33, 63, 64, 65, 127, 128, 129, 130)
        .map(randomFloats)

  // --- cosine_sim: each row pairs float and double vectors -------------
  private val vectorEdges: Seq[(Seq[JFloat], Seq[JDouble])] = {
    def d(xs: Double*): Seq[JDouble] = xs.map(JDouble.valueOf)
    def f(xs: Float*): Seq[JFloat] = xs.map(JFloat.valueOf)
    Seq(
      (null, null),
      (Seq.empty, Seq.empty),
      (Seq(null), Seq(null)),
      (Seq[JFloat](1f, null), Seq[JDouble](1.0, null)),
      (f(0f), d(0.0)),
      (f(-0f), d(-0.0)),
      (f(0f, -0f), d(-0.0, 0.0)),
      (f(Float.NaN, 1f), d(Double.NaN, 1.0)),
      (f(Float.PositiveInfinity, 1f), d(Double.NegativeInfinity, 1.0)),
      (f(1f, 2f, 3f), d(1.0, 2.0, 3.0)),
      (f(3f, 2f, 1f), d(3.0, 2.0, 1.0)),
      (f(1f, 2f), d(1e200, 1e200)),
      (f(Float.MinPositiveValue, Float.MinPositiveValue), d(Double.MinPositiveValue, 1e-300)),
      (f(Float.MaxValue, Float.MaxValue), d(Double.MaxValue, -Double.MaxValue)),
      (f(-1f, 0.5f, 0.25f), d(-1.0, 0.5, 0.25)))
  }
  private def cosineRows: Seq[Seq[Any]] = {
    val edgeRows = pairs(vectorEdges).map { case ((fa, da), (fb, db)) => Seq(fa, fb, da, db) }
    val randomRows = Seq.fill(30) {
      val n = 1 + rnd.nextInt(70)
      def dv = randomFloats(n).map(x => JDouble.valueOf(x.doubleValue * 3.7))
      Seq(randomFloats(n), randomFloats(n), dv, dv)
    }
    edgeRows ++ randomRows
  }

  // --- pq_lut_score -----------------------------------------------------
  private def pqRows: Seq[Seq[Any]] = {
    def i(xs: Int*): Seq[Integer] = xs.map(Integer.valueOf)
    def d(xs: Double*): Seq[JDouble] = xs.map(JDouble.valueOf)
    val codes: Seq[Seq[Integer]] = Seq(null, Seq.empty, Seq(null), Seq[Integer](0, null),
      i(0), i(1), i(-1), i(0, 1), i(1, 0), i(2, 0), i(0, 0, 0), i(3, 1), i(Int.MaxValue),
      i(Int.MinValue, 0))
    val luts: Seq[Seq[JDouble]] = Seq(null, Seq.empty, Seq(null), d(1.0), d(1.0, 2.0),
      d(Double.NaN, -0.0), d(-0.0, -0.0), d(0.0, -0.0, 1.0, 2.0),
      Seq[JDouble](null, 1.0, 2.0, 3.0), Seq[JDouble](1.0, 2.0, null, 4.0),
      d(1, 2, 3, 4, 5, 6), d(1, 2, 3, 4, 5, 6, 7),
      d(Double.PositiveInfinity, Double.NegativeInfinity, 1.0, 2.0))
    val edgeRows = for (c <- codes; l <- luts) yield Seq(c, l)
    val randomRows = Seq.fill(40) {
      val m = 1 + rnd.nextInt(8)
      val ksub = 1 + rnd.nextInt(16)
      Seq(Seq.fill(m)(Integer.valueOf(rnd.nextInt(ksub + 2) - 1)),
        Seq.fill(m * ksub)(JDouble.valueOf(rnd.nextGaussian())))
    }
    edgeRows ++ randomRows
  }

  // --- affine_minsig ----------------------------------------------------
  private def hashArrays: Seq[Seq[JLong]] = {
    def l(xs: Long*): Seq[JLong] = xs.map(JLong.valueOf)
    Seq(null, Seq.empty, Seq(null), Seq(null, null), l(0L), l(5L), Seq[JLong](null, 5L),
      l(5L, 5L), l(4294967295L), l(-1L), l(Long.MaxValue), l(Long.MinValue, 7L)) ++
      Seq.fill(30)(Seq.fill(rnd.nextInt(60))(
        if (rnd.nextInt(20) == 0) null else JLong.valueOf(rnd.nextLong() & 0xFFFFFFFFL)))
  }

  // --- simhash64 --------------------------------------------------------
  private def tokenArrays: Seq[Seq[String]] =
    Seq(null, Seq.empty, Seq(null), Seq(""), Seq("a"), Seq("a", "a"), Seq("a", null),
      Seq("caf\u00e9", "cafe\u0301"), Seq("中文", "😀", ""), Seq(null, null, "x")) ++
      Seq.fill(30)(Seq.fill(rnd.nextInt(12))(randomText(8)))

  private val winnowCalls = Seq((1, 1), (2, 1), (3, 2), (8, 4), (5, 3), (16, 1), (40, 1), (1, 5))

  /** One generator per table row, keyed by the SQL name. */
  val probes: Map[String, Probe] = {
    val floatArr = ArrayType(FloatType)
    val text = schema("s" -> StringType)
    val textRows = rows(strings.map(Seq(_)))
    val twoText = schema("a" -> StringType, "b" -> StringType)
    val twoTextRows = rows(pairs(shortStrings).map { case (a, b) => Seq(a, b) } ++
      Seq.fill(20)(Seq(randomText(12), randomText(12))))
    val grid = Probe(schema("g" -> floatArr), rows(grids.map(Seq(_))), Nil)
    Map(
      "cosine_sim" -> Probe(
        schema("fa" -> floatArr, "fb" -> floatArr,
          "da" -> ArrayType(DoubleType), "db" -> ArrayType(DoubleType)),
        rows(cosineRows),
        Seq("cosine_sim(fa, fb)", "cosine_sim(fa, db)", "cosine_sim(da, fb)",
          "cosine_sim(da, db)", "cosine_sim(fa, array(1.0D, -0.0D, 2.5D))",
          "cosine_sim(array(cast(1.0 AS FLOAT), cast(NULL AS FLOAT), cast(3.0 AS FLOAT)), db)")),
      "pq_lut_score" -> Probe(
        schema("codes" -> ArrayType(IntegerType), "lut" -> ArrayType(DoubleType)),
        rows(pqRows), Seq("pq_lut_score(codes, lut)")),
      "simhash64" -> Probe(schema("t" -> ArrayType(StringType)),
        rows(tokenArrays.map(Seq(_))), Seq("simhash64(t)")),
      "winnow_fps" -> Probe(text, textRows,
        winnowCalls.map { case (k, w) => s"winnow_fps(s, $k, $w)" }),
      "winnow_fps_md5" -> Probe(text, textRows,
        winnowCalls.map { case (k, w) => s"winnow_fps_md5(s, $k, $w)" }),
      "md5_prefix32" -> Probe(text, textRows, Seq("md5_prefix32(s)")),
      "affine_minsig" -> Probe(schema("h" -> ArrayType(LongType)),
        rows(hashArrays.map(Seq(_))),
        Seq("affine_minsig(h, 1)", "affine_minsig(h, 3)", "affine_minsig(h, 64)")),
      "fold_accents" -> Probe(text, textRows, Seq("fold_accents(s)")),
      "damerau_levenshtein" -> Probe(twoText, twoTextRows, Seq("damerau_levenshtein(a, b)")),
      "jaro_winkler" -> Probe(twoText, twoTextRows, Seq("jaro_winkler(a, b)")),
      "ahash32" -> grid.copy(calls = Seq("ahash32(g)")),
      "dhash32" -> grid.copy(calls = Seq("dhash32(g)")),
      "ahash64" -> grid.copy(calls = Seq("ahash64(g)")),
      "dhash64" -> grid.copy(calls = Seq("dhash64(g)")))
  }
}
