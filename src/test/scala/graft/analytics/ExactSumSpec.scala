package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The r21 fast exact decimal sum must be BIT-IDENTICAL to the decimal
  * path it replaces — `sum(cast(v as decimal(24,6))).cast("double")` —
  * on every input regime, because 14 oracle-hashed queries ride on it. */
class ExactSumSpec extends SparkSpec {
  import spark.implicits._

  private def oldDsum(c: Column): Column =
    sum(c.cast("decimal(24,6)")).cast("double")

  private def both(df: DataFrame, c: String): (Option[Double], Option[Double]) = {
    val r = df.agg(ExactSum.dsum(col(c)).as("a"), oldDsum(col(c)).as("b"))
      .head()
    (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
      if (r.isNullAt(1)) None else Some(r.getDouble(1)))
  }

  private def check(df: DataFrame, c: String, clue: String): Unit = {
    val (a, b) = both(df, c)
    withClue(s"$clue: fast=$a decimal=$b") {
      (a, b) match {
        case (Some(x), Some(y)) =>
          java.lang.Double.doubleToRawLongBits(x) shouldBe
            java.lang.Double.doubleToRawLongBits(y)
        case _ => a shouldBe b
      }
    }
  }

  test("≡ decimal sum on real data, ungrouped and grouped") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    for (c <- Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
      check(li, c, s"lineitem.$c")
    // grouped: every group's pair must agree
    val g = li.groupBy("l_returnflag")
      .agg(ExactSum.dsum(col("l_extendedprice")).as("a"),
        oldDsum(col("l_extendedprice")).as("b"))
      .collect()
    g.length should be > 1
    g.foreach { r =>
      withClue(s"group ${r.get(0)}") {
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)) shouldBe
          java.lang.Double.doubleToRawLongBits(r.getDouble(2))
      }
    }
  }

  test("≡ decimal sum on adversarial values: rounding boundaries, " +
    "huge/tiny magnitudes, negatives, null/NaN/±Inf mixes") {
    val adversarial: Seq[java.lang.Double] = Seq[java.lang.Double](
      0.0000005, -0.0000005, 0.0000004999999, 0.0000015, 1.0000005,
      -1.0000005, 123.4567895, 123.4567885, 4.9e-7, 5.1e-7, 1e-7,
      -1e-7, 0.1, 0.3, 1.0 / 3.0, math.Pi, 2.675, -2.675,
      8.0e12, 8.000000000000001e12, -8.0e12, 8.1e12, 9.3e12, -9.3e12,
      1.0e13 + 0.5, 9.007199254740992e15, 9.007199254740991e15,
      1e17, java.lang.Double.MIN_VALUE,
      -java.lang.Double.MIN_VALUE, 0.0, -0.0, null)
    // singletons: each value's own 1-row sum must agree
    adversarial.foreach { v =>
      check(Seq(Option(v).map(_.doubleValue)).toDF("x"), "x", s"value $v")
    }
    // the whole bag summed together (null included)
    check(adversarial.map(Option(_).map(_.doubleValue)).toDF("x"), "x",
      "adversarial bag")
    // NaN / Infinity: the decimal cast's behavior (null in non-ANSI,
    // throw in ANSI) must be mirrored exactly — compare outcomes
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 1e18, -1e18)) { // >18 int digits: ANSI
      // overflow on the decimal cast must surface identically
      val df = Seq(1.5, bad, 2.25).toDF("x")
      val fastOut = scala.util.Try(
        df.agg(ExactSum.dsum(col("x"))).head().isNullAt(0) match {
          case true => None; case false => Some(
            df.agg(ExactSum.dsum(col("x"))).head().getDouble(0))
        })
      val decOut = scala.util.Try(
        df.agg(oldDsum(col("x"))).head().isNullAt(0) match {
          case true => None; case false => Some(
            df.agg(oldDsum(col("x"))).head().getDouble(0))
        })
      withClue(s"bad=$bad fast=$fastOut dec=$decOut") {
        fastOut.isSuccess shouldBe decOut.isSuccess
        if (fastOut.isSuccess) fastOut.get shouldBe decOut.get
      }
    }
    // all-null column stays null
    check(Seq[Option[Double]](None, None).toDF("x"), "x", "all-null")
  }

  test("product forms ≡ their decimal twins on real data and " +
    "adversarial operands (revenue shape and a16 second moments)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    def bitsEq(df: DataFrame): Unit =
      df.collect().foreach { r =>
        withClue(r.toString) {
          (r.isNullAt(0), r.isNullAt(1)) match {
            case (false, false) =>
              java.lang.Double.doubleToRawLongBits(r.getDouble(0)) shouldBe
                java.lang.Double.doubleToRawLongBits(r.getDouble(1))
            case (a, b) => a shouldBe b
          }
        }
      }
    val oldRevenue = sum(col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1).cast("decimal(8,6)") - col("l_discount").cast("decimal(8,6)")))
      .cast("double")
    bitsEq(li.groupBy("l_returnflag").agg(
      ExactSum.dsumRevenue(col("l_extendedprice"), col("l_discount")),
      oldRevenue).drop("l_returnflag"))
    val qd = col("l_quantity").cast("decimal(12,2)")
    val pd = col("l_extendedprice").cast("decimal(12,2)")
    bitsEq(li.groupBy("l_returnflag").agg(
      ExactSum.dsumProduct(col("l_quantity"), 12, 2, 1e7,
        col("l_extendedprice"), 12, 2, 1e7),
      sum(qd * pd).cast("double")).drop("l_returnflag"))
    bitsEq(li.groupBy("l_returnflag").agg(
      ExactSum.dsumScaled(col("l_quantity"), 12, 2, 8e15),
      sum(qd).cast("double")).drop("l_returnflag"))
    // adversarial operand mixes: boundary discounts, nulls, price spikes
    val rows = Seq[(java.lang.Double, java.lang.Double)](
      (100.005, 0.05), (100.005, 0.0000005), (null, 0.1), (3.0, null),
      (4.0e7 + 1, 0.02), (5.0e7, 11.0), (-2.675, -0.033),
      (1.0 / 3.0, 1.0 / 7.0), (0.005, 0.9999995), (123456789.01, 0.004),
      (-0.0, 0.0), (8.0e9, 0.0000015))
    val df = rows.map { case (a, b) =>
      (Option(a).map(_.doubleValue), Option(b).map(_.doubleValue))
    }.toDF("p", "d")
    bitsEq(df.agg(ExactSum.dsumRevenue(col("p"), col("d")),
      sum(col("p").cast("decimal(12,2)") * (lit(1).cast("decimal(8,6)") -
        col("d").cast("decimal(8,6)"))).cast("double")))
    bitsEq(df.agg(ExactSum.dsumProduct(col("p"), 12, 2, 1e7,
      col("d"), 12, 2, 1e7),
      sum(col("p").cast("decimal(12,2)") * col("d").cast("decimal(12,2)"))
        .cast("double")))
  }

  test("≡ decimal sum on 20k random doubles across exponent regimes " +
    "(seeded)") {
    val rnd = new scala.util.Random(20260818L)
    val regimes = Seq(1e-8, 1e-4, 1.0, 1e3, 1e7, 1e11, 1e13, 1e16)
    val values = (1 to 20000).map { _ =>
      val r = regimes(rnd.nextInt(regimes.length))
      (rnd.nextDouble() - 0.5) * r
    } ++ (1 to 2000).map(_ => // exact-boundary mass: k + 5e-7 shapes
      rnd.nextInt(1000) + rnd.nextInt(20) * 5e-7 *
        (if (rnd.nextBoolean()) 1 else -1))
    check(values.toDF("x"), "x", "random bag")
    // and grouped into 64 buckets — per-group equality
    val g = values.toDF("x").withColumn("g", pmod(xxhash64(col("x")), lit(64)))
      .groupBy("g")
      .agg(ExactSum.dsum(col("x")).as("a"), oldDsum(col("x")).as("b"))
      .collect()
    g.foreach { r =>
      withClue(s"group ${r.get(0)}") {
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)) shouldBe
          java.lang.Double.doubleToRawLongBits(r.getDouble(2))
      }
    }
  }

  /** Every message on `t`'s cause chain, joined. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")

  test("checkedSums at Long.MaxValue: exact up to the long range, and a " +
    "group that leaves it fails naming ExactSum.dsum's group-size limit " +
    "instead of wrapping, with ANSI mode on or off") {
    def sumOf(vs: Seq[java.lang.Long], parts: Int): Option[Long] = {
      val r = vs.map(Option(_).map(_.longValue)).toDF("l").repartition(parts)
        .agg(ExactSum.checkedSums(col("l"), col("l")).head).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      for (mode <- Seq("true", "false"); parts <- Seq(1, 2)) {
        spark.conf.set("spark.sql.ansi.enabled", mode)
        withClue(s"ansi=$mode partitions=$parts: ") {
          sumOf(Seq(Long.MaxValue), parts) shouldBe Some(Long.MaxValue)
          sumOf(Seq(Long.MaxValue - 1, 1L), parts) shouldBe Some(Long.MaxValue)
          sumOf(Seq(Long.MinValue, null), parts) shouldBe Some(Long.MinValue)
          sumOf(Seq(null, null), parts) shouldBe None
          for (over <- Seq(Seq[java.lang.Long](Long.MaxValue, 1L),
              Seq[java.lang.Long](Long.MinValue, -1L))) {
            val e = intercept[Exception](sumOf(over, parts))
            messages(e) should include("ExactSum.dsum")
            messages(e) should include("group-size limit")
          }
        }
      }
      // the wrap this guards against: a plain long sum outside ANSI mode
      spark.conf.set("spark.sql.ansi.enabled", "false")
      Seq(Long.MaxValue, 1L).toDF("l").agg(sum("l")).head().getLong(0) shouldBe
        Long.MinValue
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("dsum, dsumProduct and dsumRevenue accumulate no unchecked long Sum") {
    import org.apache.spark.sql.catalyst.expressions.EvalMode
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    val df = Seq((1.5, 0.25)).toDF("x", "y")
    for ((name, e) <- Seq(
        "dsum" -> ExactSum.dsum(col("x")),
        "dsumProduct" -> ExactSum.dsumProduct(col("x"), 12, 2, 1e7,
          col("y"), 12, 2, 1e7),
        "dsumRevenue" -> ExactSum.dsumRevenue(col("x"), col("y")))) {
      val longSums = df.agg(e).queryExecution.optimizedPlan
        .flatMap(_.expressions).flatMap(_.collect {
          case s: Sum if s.dataType == org.apache.spark.sql.types.LongType => s
        })
      withClue(name) {
        longSums.filter(_.evalContext.evalMode != EvalMode.TRY) shouldBe empty
        longSums.distinct.size shouldBe 3
      }
    }
  }
}
