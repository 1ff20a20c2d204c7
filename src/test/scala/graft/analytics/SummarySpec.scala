package graft.analytics

import graft.SparkSpec
import graft.vocab.Vocab
import org.apache.spark.sql.functions._

class SummarySpec extends SparkSpec {
  import spark.implicits._

  test("columnStats long-form matrix: exact min/max/mean, exact median") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val r = Summary.columnStats(df, Seq("x")).head()
    r.getAs[String]("col_name") shouldBe "x"
    r.getAs[Double]("min_v") shouldBe 1.0
    r.getAs[Double]("max_v") shouldBe 4.0
    r.getAs[Double]("mean_v") shouldBe 2.5
    r.getAs[Double]("median_v") shouldBe 2.5 // interpolated
  }

  test("bracket-and-select exact quantiles ≡ sort-based selection " +
    "(r21 rewrite): identical on real data, heavy ties, and a " +
    "sub-accuracy frame; NaN and a 1-row band cap route to the " +
    "sort fallback with identical results") {
    val ps = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    // real data: two lineitem columns at sf0.001
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val cols = Seq("l_quantity", "l_extendedprice")
    Quantiles.quantiles(li, cols, ps)._1 shouldBe
      Quantiles.globalQuantilesBySort(li, cols, ps)
    // heavy ties at the median: 90% of values equal — the band
    // collapses duplicates, ranks stay exact
    val ties = (Seq.fill(900)(5.0) ++ (1 to 100).map(_.toDouble))
      .toDF("x")
    Quantiles.quantiles(ties, Seq("x"), ps)._1 shouldBe
      Quantiles.globalQuantilesBySort(ties, Seq("x"), ps)
    // a NaN forces the fallback (GK's NaN ordering ≠ sort order), and
    // the result still matches the sort path run on the same frame
    val withNan = (Seq(Double.NaN) ++ (1 to 99).map(_.toDouble)).toDF("x")
    Quantiles.quantiles(withNan, Seq("x"), Seq(0.5))._1 shouldBe
      Quantiles.globalQuantilesBySort(withNan, Seq("x"), Seq(0.5))
    // band-cap overflow forces the fallback: cap of 1 row cannot hold
    // any band, results must still be exact
    spark.conf.set(Quantiles.MaxBandRowsConf, "1")
    try Quantiles.quantiles(ties, Seq("x"), ps)._1 shouldBe
      Quantiles.globalQuantilesBySort(ties, Seq("x"), ps)
    finally spark.conf.unset(Quantiles.MaxBandRowsConf)
  }

  test("grouped bracket-select boxplot ≡ the Window-rank form " +
    "(r21 rewrite): real data, ties, null values, all-null group, " +
    "and the fallback cap") {
    def eq(df: org.apache.spark.sql.DataFrame, v: String,
           gs: Seq[String]): Unit = {
      // stringified cells: Seq equality would fail on NaN keys even
      // when the frames agree (Scala NaN != NaN)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
      rows(Summary.boxplotStats(df, v, gs)) shouldBe
        rows(Summary.boxplotStatsBySort(df, v, gs))
    }
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    eq(li, "l_extendedprice", Seq("l_returnflag"))
    eq(li, "l_quantity", Seq("l_returnflag", "l_linestatus"))
    // ties + null values + one all-null group (must be ABSENT)
    val synth = (Seq.fill(50)(("a", Some(5.0))) ++
      (1 to 20).map(i => ("a", Some(i.toDouble))) ++
      Seq(("b", None), ("b", Some(2.0)), ("c", None), ("c", None)))
      .toDF("g", "v")
    eq(synth, "v", Seq("g"))
    Summary.boxplotStats(synth, "v", Seq("g"))
      .collect().map(_.getString(0)).toSeq shouldBe Seq("a", "b")
    // >maxGroups falls back to the Window form with identical output
    val many = (1 to 200).flatMap(g => Seq((s"g$g", 1.0), (s"g$g", 2.0)))
      .toDF("g", "v")
    eq(many, "v", Seq("g"))
    // NaN GROUP-KEY values fall back too (Spark groups NaN = NaN but
    // driver-side Scala Seq equality would not), with identical output
    val nanKey = Seq((Double.NaN, 1.0), (Double.NaN, 3.0), (2.0, 5.0))
      .toDF("g", "v")
    eq(nanKey, "v", Seq("g"))
  }

  /** columnStats as the engine computed it before the stats became
    * grouped quantiles over the melted columns: one wide aggregate of
    * min/max cast to double and the exact mean, plus sort-based medians
    * rounded like Spark's round(x, 4); a column with no non-null value
    * gets nulls. */
  private def columnStatsReference(df: org.apache.spark.sql.DataFrame,
                                   cols: Seq[String]): Seq[Seq[Any]] = {
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double"),
        ExactSum.dsum(col(c)) / count(col(c)))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*).head()
    val medians = Quantiles.globalQuantilesBySort(df, cols, Seq(0.5))
    cols.zipWithIndex.sortBy(_._1).map { case (c, i) =>
      val median = medians.get((c, 0.5)).map(m => BigDecimal(m)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      Seq(c, wide.get(3 * i), wide.get(3 * i + 1), wide.get(3 * i + 2),
        median.getOrElse(null))
    }
  }

  private def stats(df: org.apache.spark.sql.DataFrame,
                    cols: Seq[String]): Seq[Seq[Any]] =
    Summary.columnStats(df, cols).collect().map(_.toSeq).toSeq

  /** Cells compared bit for bit: doubles by their raw bits (so NaN and
    * -0.0 count), everything else by equality. */
  private def bits(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = rows.map(_.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  })

  private def statsFrame(withNan: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(20261019L)
    val rows = (0 until 400).map { i =>
      org.apache.spark.sql.Row(
        if (i % 7 == 0) null else (rnd.nextDouble() - 0.3) * 1e4,
        if (i % 11 == 0) null
        else java.math.BigDecimal.valueOf(rnd.nextInt(2000000) - 500000, 2),
        if (i % 5 == 0) null
        else (1L << 53) + rnd.nextInt(1000) * (if (i % 2 == 0) 1L else -1L),
        if (i % 3 == 0) null else Integer.valueOf(rnd.nextInt(100) - 20),
        java.lang.Double.valueOf(2.5),
        if (withNan && i % 50 == 0) Double.NaN else i.toDouble / 8,
        null)
    }
    val schema = StructType(Seq(StructField("d", DoubleType),
      StructField("dec", DecimalType(12, 2)), StructField("l", LongType),
      StructField("i", IntegerType), StructField("const", DoubleType),
      StructField("nan", DoubleType), StructField("nul", DoubleType)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  test("columnStats on an all-null column and on an empty frame emits " +
    "nulls, as SQL's min, quantile_cont and dsum/count do") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("a", DoubleType),
      StructField("b", DoubleType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(null, 1.0),
        org.apache.spark.sql.Row(null, 3.0)), schema)
    stats(df, Seq("a", "b")) shouldBe
      Seq(Seq("a", null, null, null, null), Seq("b", 1.0, 3.0, 2.0, 2.0))
    stats(df.limit(0), Seq("a")) shouldBe Seq(Seq("a", null, null, null, null))
  }

  test("columnStats is bit-equal to the wide aggregate plus sort-based " +
    "medians over double, decimal(12,2), long, int, constant, " +
    "NaN-bearing and all-null columns") {
    val plain = Seq("d", "dec", "l", "i", "const", "nan", "nul")
    for (withNan <- Seq(false, true)) {
      val df = statsFrame(withNan)
      for (cols <- plain +: plain.map(Seq(_))) withClue(s"$cols nan=$withNan") {
        bits(stats(df, cols)) shouldBe bits(columnStatsReference(df, cols))
      }
    }
  }

  test("more than 64 columns: the selection gives up with every column's " +
    "extras, and the medians come from the sort fallback") {
    val cols = (0 until 65).map(i => s"c$i")
    val df = spark.range(0, 30).select(cols.zipWithIndex.map { case (c, i) =>
      (col("id") * (i + 1) % 17).cast("double").as(c) }: _*)
    val melted = df.selectExpr(s"stack(${cols.length}, " +
      cols.map(c => s"'$c', $c").mkString(", ") + ") AS (__name, __v)")
    val (rowsA, selected) = Quantiles.groupedQuantilesWithExtras(melted,
      "__v", Seq("__name"), Seq(0.5), Nil, maxRows = cols.length)
    selected shouldBe None
    rowsA.map(_.getString(0)).sorted shouldBe cols.sorted
    Quantiles.quantiles(df, cols, Seq(0.5))._1 shouldBe
      Quantiles.globalQuantilesBySort(df, cols, Seq(0.5))
    bits(stats(df, cols)) shouldBe bits(columnStatsReference(df, cols))
  }

  test("boxplot stats: quartiles of 1..5 per group") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 5.0))
      .toDF("g", "v")
    val r = Summary.boxplotStats(df, "v", Seq("g")).head()
    r.getAs[Double]("lo_whisker") shouldBe 1.0
    r.getAs[Double]("q25") shouldBe 2.0
    r.getAs[Double]("median") shouldBe 3.0
    r.getAs[Double]("q75") shouldBe 4.0
    r.getAs[Double]("hi_whisker") shouldBe 5.0
    r.getAs[Double]("mean") shouldBe 3.0
  }

  test("clamp caps values at hi without touching lower ones") {
    val out = Summary.clamp(Seq(0.5, 1.0, 1.7).toDF("r"), "r", 1.0)
      .collect().map(_.getDouble(0)).sorted
    out shouldBe Array(0.5, 1.0, 1.0)
  }

  test("unionWithOrigin tags and concatenates by name") {
    val a = Seq((1, "x")).toDF("id", "v")
    val b = Seq((2, "y")).toDF("id", "v").select("v", "id") // reordered cols
    val u = Summary.unionWithOrigin(Seq(a -> "left", b -> "right"))
      .orderBy("id").collect()
    u.map(_.getAs[String]("origin")) shouldBe Array("left", "right")
    u.map(_.getAs[Int]("id")) shouldBe Array(1, 2)
  }

  test("seededSample: deterministic across runs, exact n") {
    val df = spark.read.parquet(s"$sf0001/events.parquet")
      .select("event_id")
    val s1 = Summary.seededSample(df, "event_id", 50)
      .collect().map(_.getLong(0)).toSeq
    val s2 = Summary.seededSample(df, "event_id", 50)
      .collect().map(_.getLong(0)).toSeq
    s1 shouldBe s2
    s1.length shouldBe 50
    s1.distinct.length shouldBe 50
  }

  test("weighted sample: exactly n rows when no weight exceeds total/n, " +
    "and heavy rows are always included") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "n_chars")
    // documents' n_chars are all << total/50, so the grid picks exactly n
    val out = Summary.weightedSample(docs, "doc_id", "n_chars", n = 50)
    out.count() shouldBe 50L
    // a row heavier than total/n must be picked (it spans a grid point)
    val total = docs.agg(sum("n_chars")).first().getLong(0)
    val heavy = docs.unionByName(
      Seq((999999L, total)).toDF("doc_id", "n_chars"))
    Summary.weightedSample(heavy, "doc_id", "n_chars", n = 10)
      .filter(col("doc_id") === 999999L).count() shouldBe 1L
    // zero-weight rows never selected
    val zeroed = docs.withColumn("n_chars",
      when(col("doc_id") % 2 === 0, 0L).otherwise(col("n_chars")))
    Summary.weightedSample(zeroed, "doc_id", "n_chars", n = 50)
      .filter(col("doc_id") % 2 === 0).count() shouldBe 0L
  }

  test("weighted sample distributes: cumsum buckets by md5 prefix, no " +
    "global single-partition sort") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "n_chars")
    val plan = Summary.weightedSample(docs, "doc_id", "n_chars", n = 20)
      .queryExecution.executedPlan.toString
    // the window shuffles on the bucket key, never into one partition
    plan should include("hashpartitioning(__b")
    plan should not include "SinglePartition"
  }

  test("vocab: counts and descending order with tiebreak") {
    val df = Seq("the cat the dog", "the cat").toDF("text")
    val v = Vocab.generate(df, "text").collect()
      .map(r => (r.getString(0), r.getLong(2)))
    v.head shouldBe ("the", 3L)
    v.map(_._2).sliding(2).foreach(w => w(0) should be >= w(1))
    v.toMap apply "cat" shouldBe 2L
  }
}
