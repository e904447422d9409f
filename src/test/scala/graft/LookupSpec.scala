package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

/** Broadcast lookup dim functions: geo/ISP range tables (reference
  * sql/sql.go:81-89) and redis-style hash/set/script lookups
  * (sql/sql.go:92-106), probed inside codegen with no join or shuffle.
  */
class LookupSpec extends AnyFunSuite with TestSession {

  // ---- RangeTable core ----

  test("RangeTable: boundaries, gaps, misses") {
    val t = RangeTable.fromRows(Seq(
      (100L, 199L, "a"), (200L, 299L, "b"), (500L, 599L, "c")))
    assert(t.lookup(100L).toString == "a") // first start
    assert(t.lookup(199L).toString == "a") // inclusive end
    assert(t.lookup(200L).toString == "b")
    assert(t.lookup(300L) == null)         // gap
    assert(t.lookup(99L) == null)          // below first
    assert(t.lookup(599L).toString == "c")
    assert(t.lookup(600L) == null)         // above last
  }

  test("RangeTable rejects overlapping ranges") {
    intercept[IllegalArgumentException] {
      RangeTable.fromRows(Seq((100L, 250L, "a"), (200L, 299L, "b")))
    }
  }

  test("aton: dotted quads and malformed strings") {
    def ip(s: String): Long = Lookup.aton(UTF8String.fromString(s))
    assert(ip("0.0.0.0") == 0L)
    assert(ip("1.2.3.4") == ((1L << 24) | (2L << 16) | (3L << 8) | 4L))
    assert(ip("255.255.255.255") == 4294967295L)
    assert(ip("256.1.1.1") == -1L)   // octet overflow
    assert(ip("1.2.3") == -1L)       // too few octets
    assert(ip("1.2.3.4.5") == -1L)   // too many
    assert(ip("1..2.3") == -1L)      // empty octet
    assert(ip("a.b.c.d") == -1L)     // non-digit
    assert(ip("") == -1L)
  }

  // ---- engine-level geo over string + numeric IPs ----

  private lazy val geoInstalled: Unit = {
    val ranges = spark.range(256).select(
      (col("id") * 16777216L).as("start_ip"),
      (col("id") * 16777216L + 16777215L).as("end_ip"),
      concat(lit("city"), col("id") % 5).as("city"),
      concat(lit("R"), col("id") % 3).as("region"),
      concat(lit("C"), col("id") % 7).as("country_code"),
      concat(lit("isp"), col("id") % 2).as("isp"),
      concat(lit("org"), col("id") % 2).as("org"),
      (col("id") % 11).cast("string").as("asn"),
      concat(lit("as"), col("id") % 11).as("asname"))
    GeoIp.install(spark, ranges)
  }

  test("CITY/COUNTRY_CODE/REGION_CITY over dotted-quad string dims") {
    geoInstalled
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("10.0.0.1", 3.0), Row("10.99.5.5", 4.0),   // first octet 10 -> city0
        Row("11.0.0.1", 5.0),                          // 11 -> city1
        Row("bogus", 7.0), Row(null, 9.0))),           // unresolvable -> NULL dim
      StructType(Seq(StructField("ip", StringType),
        StructField("v", DoubleType))))
    val cat = new Catalog(Map("t" -> Catalog.classify("t", df)))
    val out = Engine.sql(cat,
      "SELECT v, _points FROM t GROUP BY CITY(ip) AS city ORDER BY city")
      .collect()
    val byCity = out.map(r => Option(r.getString(0)).orNull -> r.getDouble(1)).toMap
    assert(byCity("city0") == 7.0) // 3 + 4
    assert(byCity("city1") == 5.0)
    assert(byCity(null) == 16.0)   // bogus + null ip
    // composition: REGION_CITY = "<region>, <city>"
    val rc = Engine.sql(cat,
      "SELECT v FROM t WHERE ip = '10.0.0.1' GROUP BY REGION_CITY(ip) AS rc")
      .collect()
    assert(rc.head.getString(0) == "R1, city0") // block 10: 10%3=1, 10%5=0
  }

  test("numeric IP dims probe the same table") {
    geoInstalled
    val df = spark.range(4).select(
      (col("id") * 16777216L + 7L).as("ip"), lit(1.0).as("v"))
    val cat = new Catalog(Map("n" -> Catalog.classify("n", df)))
    val out = Engine.sql(cat,
      "SELECT v FROM n GROUP BY COUNTRY_CODE(ip) AS cc ORDER BY cc").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("C0", "C1", "C2", "C3"))
  }

  test("geo lookup plans with no join and no extra exchange") {
    geoInstalled
    val df = spark.range(100).select(
      (col("id") * 1000000L).as("ip"), lit(1.0).as("v"))
    val cat = new Catalog(Map("p" -> Catalog.classify("p", df)))
    val plan = Engine.sql(cat, "SELECT v FROM p GROUP BY CITY(ip) AS city")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"lookup must not plan a join:\n$plan")
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"lookup must add no exchange beyond the groupBy:\n$plan")
    assert(plan.contains("range_lookup"))
  }

  // ---- redis-style ----

  test("HGET/SISMEMBER/LUA over broadcast snapshots") {
    import spark.implicits._
    Redis.installHash(spark, "colors",
      Seq(("1", "red"), ("2", "green")).toDF("k", "v"))
    Redis.installSet(spark, "vip", Seq("2", "3").toDF("m"))
    Redis.registerScript("upper_first",
      (keys, _) => upper(substring(element_at(keys, 1), 1, 1)))
    val df = Seq((1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0))
      .toDF("id", "v")
    val cat = new Catalog(Map("kv" -> Catalog.classify("kv", df)))
    val out = Engine.sql(cat,
      """SELECT v FROM kv
        |GROUP BY HGET('colors', id) AS color,
        |  SISMEMBER('vip', id) AS vip,
        |  LUA('upper_first', ARRAY(HGET('colors', id)), ARRAY('x')) AS u
        |ORDER BY v""".stripMargin).collect()
    assert(out.map(r => (r.getString(0), r.getBoolean(1), r.getString(2),
      r.getDouble(3))).toSeq == Seq(
      ("red", false, "R", 10.0),
      ("green", true, "G", 20.0),
      (null, true, null, 30.0),   // no hash entry, but in set
      (null, false, null, 40.0)))
  }

  test("missing hash/set/script fail loudly; names must be literals") {
    import spark.implicits._
    Redis.installHash(spark, "h0", Seq(("a", "b")).toDF("k", "v"))
    val df = Seq(("a", 1.0)).toDF("k", "v")
    val cat = new Catalog(Map("e" -> Catalog.classify("e", df)))
    val noHash = intercept[IllegalArgumentException] {
      Engine.sql(cat, "SELECT v FROM e GROUP BY HGET('nope', k) AS x")
    }
    assert(noHash.getMessage.contains("no hash 'nope'"))
    val noScript = intercept[IllegalArgumentException] {
      Engine.sql(cat,
        "SELECT v FROM e GROUP BY LUA('nope', ARRAY(k), ARRAY(k)) AS x")
    }
    assert(noScript.getMessage.contains("no script 'nope'"))
    val nonLit = intercept[IllegalArgumentException] {
      Engine.sql(cat, "SELECT v FROM e GROUP BY HGET(k, k) AS x")
    }
    assert(nonLit.getMessage.contains("literal string name"))
  }
}
