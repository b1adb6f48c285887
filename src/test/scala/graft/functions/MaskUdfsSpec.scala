package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class MaskUdfsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def registered(): Unit =
    MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)

  test("mask_string over SQL: null, deterministic repeat, alphabet") {
    registered()
    val rows = spark.sql(
      """SELECT
        |  mask_string(16, true, null) AS n,
        |  mask_string(16, true, 'alice') AS a1,
        |  mask_string(16, true, 'alice') AS a2,
        |  mask_string_alphabet(16, '0123456789', true, 'alice') AS num,
        |  mask_string_alphabet_format(16, '0123456789', '4xxx-xxxx-xxxx-xxxx', true, 'alice') AS cc
        |""".stripMargin).collect()(0)
    assert(rows.isNullAt(0))
    assert(rows.getString(1) === rows.getString(2))
    assert(rows.getString(1).length === 16)
    assert(rows.getString(3).forall(_.isDigit))
    assert(rows.getString(4).matches("4\\d{3}-\\d{4}-\\d{4}-\\d{4}"))
  }

  test("mask_date / mask_timestamp / mask_decimal over SQL with bounds") {
    registered()
    val row = spark.sql(
      """SELECT
        |  mask_date(14, true, DATE '2016-12-18') AS d,
        |  mask_timestamp(14, true, TIMESTAMP '2016-12-18 21:46:54') AS ts,
        |  CAST(mask_decimal(CAST(5.00 AS DECIMAL(4,2)), true, CAST(96.37 AS DECIMAL(4,2))) AS DECIMAL(6,2)) AS dec,
        |  mask_date(14, true, null) AS dn,
        |  mask_timestamp(14, true, null) AS tsn,
        |  mask_decimal(CAST(5.0 AS DECIMAL(4,2)), true, null) AS decn
        |""".stripMargin).collect()(0)
    val d = row.getAs[java.sql.Date]("d").toLocalDate
    assert(math.abs(d.toEpochDay - java.time.LocalDate.parse("2016-12-18").toEpochDay) < 14)
    val ts = row.getAs[java.sql.Timestamp]("ts")
    val base = java.sql.Timestamp.valueOf("2016-12-18 21:46:54")
    assert(math.abs(ts.getTime - base.getTime) < 14L * 24 * 3600 * 1000)
    val dec = row.getAs[java.math.BigDecimal]("dec")
    assert(dec.subtract(new java.math.BigDecimal("96.37")).abs.doubleValue < 5.0)
    assert(row.isNullAt(3) && row.isNullAt(4) && row.isNullAt(5))
  }

  test("date / timestamp masks are identical under either java8API setting") {
    val key = "spark.sql.datetime.java8API.enabled"
    val saved = spark.conf.getOption(key)
    def masked(java8: Boolean): Seq[String] = {
      spark.conf.set(key, java8.toString)
      registered()
      spark.sql(
        """SELECT
          |  CAST(mask_date(14, true, DATE '2016-12-18') AS STRING),
          |  CAST(mask_date(30, true, DATE '1969-07-20') AS STRING),
          |  CAST(mask_timestamp(14, true, TIMESTAMP '2016-12-18 21:46:54') AS STRING),
          |  CAST(mask_timestamp(30, true, TIMESTAMP '1969-07-20 20:17:40.5') AS STRING),
          |  CAST(mask_date_det(14, DATE '2016-12-18') AS STRING),
          |  CAST(mask_timestamp_det(14, TIMESTAMP '2016-12-18 21:46:54') AS STRING),
          |  CAST(mask_date(14, true, null) AS STRING)
          |""".stripMargin).collect()(0).toSeq.map(v => String.valueOf(v))
    }
    try {
      val (on, off) = (masked(java8 = true), masked(java8 = false))
      assert(on === off)
      assert(on.init.forall(_ != "null") && on.last === "null")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("masking composes with built-ins (date_trunc) like the reference suite") {
    registered()
    val row = spark.sql(
      "SELECT mask_timestamp(14, true, date_trunc('HOUR', TIMESTAMP '2016-12-18 21:46:54')) AS t").collect()(0)
    val t = row.getAs[java.sql.Timestamp]("t").toInstant
    // time-of-day must survive the day-shift: truncated to an exact hour
    assert(t.toString.matches(".*T\\d{2}:00:00Z"))
  }

  test("non-deterministic mode produces differing values across rows with equal input") {
    registered()
    val vals = spark.range(8).selectExpr("mask_string(16, false, 'same-input') AS m")
      .collect().map(_.getString(0))
    assert(vals.distinct.length > 1, "SecureRandom path must differ across rows")
  }

  test("deterministic masking is stable across the DataFrame API and SQL") {
    registered()
    import spark.implicits._
    val df = Seq("alice", "bob", null).toDF("name")
    df.createOrReplaceTempView("mu_names")
    val viaSql = spark.sql("SELECT mask_string(16, true, name) AS m FROM mu_names ORDER BY m").collect().map(r => Option(r.getString(0)))
    val viaDf = df.selectExpr("mask_string(16, true, name) AS m").orderBy("m").collect().map(r => Option(r.getString(0)))
    assert(viaSql.toSeq === viaDf.toSeq)
    assert(viaSql.count(_.isEmpty) === 1)
  }
}
