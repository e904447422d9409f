package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Seeded differential fuzz: random dialect queries over lineitem compared
  * against hand-built DataFrame equivalents — broad coverage of the
  * parser → planner → builders path beyond the fixed oracle set.
  */
class FuzzSpec extends AnyFunSuite with TestSession {

  private val dir = "/root/testdata/sf0.001"
  private lazy val catalog = Catalog.fromParquetDir(spark, dir, Seq("lineitem"))
  private lazy val li = catalog.get("lineitem").df

  private case class AggPick(sql: String, name: String, direct: Column)

  test("40 random group/agg/filter/having/order queries match direct DataFrame builds") {
    val rnd = new scala.util.Random(20260812L)
    val dims = Seq("l_returnflag", "l_linestatus", "l_suppkey")
    val aggPool: Seq[() => AggPick] = Seq(
      () => AggPick("SUM(l_quantity)", "a1", sum(col("l_quantity"))),
      () => AggPick("MIN(l_quantity)", "a2", min(col("l_quantity"))),
      () => AggPick("MAX(l_quantity)", "a3", max(col("l_quantity"))),
      () => AggPick("COUNT(l_quantity)", "a4", count(col("l_quantity")).cast("double")),
      () => AggPick("AVG(l_quantity)", "a5", sum(col("l_quantity")) / count(col("l_quantity"))),
      () => AggPick("SUM(l_discount * 100)", "a6", sum(col("l_discount") * 100)),
      () => AggPick("IF(l_returnflag = 'R', l_quantity)", "a7",
        sum(when(col("l_returnflag") === "R", col("l_quantity")))),
      () => AggPick("COUNT(BOUNDED(l_quantity, 5, 25))", "a8",
        count(when(col("l_quantity").between(5, 25), col("l_quantity"))).cast("double")),
      () => AggPick("_points", "a9", count(lit(1)).cast("double")))

    val wherePool: Seq[(String, Column)] = Seq(
      ("l_quantity > 25" -> (col("l_quantity") > 25)),
      ("l_returnflag IN ('R', 'A')" -> col("l_returnflag").isin("R", "A")),
      ("l_linestatus = 'F' AND l_suppkey >= 3" ->
        (col("l_linestatus") === "F" && col("l_suppkey") >= 3)),
      ("l_returnflag <> 'N' OR l_quantity <= 10" ->
        (col("l_returnflag") =!= "N" || col("l_quantity") <= 10)),
      // goexpr LIKE = unanchored regex, not SQL wildcards (Builders.scala)
      ("l_returnflag LIKE 'R'" -> col("l_returnflag").rlike("R")),
      ("l_linestatus NOT LIKE '^F$'" -> !col("l_linestatus").rlike("^F$")))

    var checked = 0
    for (i <- 0 until 40) {
      val gDims = rnd.shuffle(dims).take(1 + rnd.nextInt(2))
      val nAggs = 1 + rnd.nextInt(3)
      val aggs = rnd.shuffle(aggPool).take(nAggs).map(_())
      val where = if (rnd.nextBoolean()) Some(wherePool(rnd.nextInt(wherePool.size))) else None
      val useHaving = rnd.nextBoolean() && aggs.exists(_.name == "a1")

      val sql = new StringBuilder("SELECT ")
      sql.append(aggs.map(a =>
        if (a.sql == "_points") "_points" else s"${a.sql} AS ${a.name}").mkString(", "))
      sql.append(" FROM lineitem")
      where.foreach { case (w, _) => sql.append(s" WHERE $w") }
      sql.append(" GROUP BY ").append(gDims.mkString(", "))
      if (useHaving) sql.append(" HAVING a1 > 100")
      sql.append(" ORDER BY ").append(gDims.mkString(", "))

      val got = Engine.sql(catalog, sql.toString).collect()

      var direct: DataFrame = li
      where.foreach { case (_, c) => direct = direct.filter(c) }
      val aggCols = aggs.map(a =>
        a.direct.as(if (a.sql == "_points") "_points" else a.name))
      direct = direct.groupBy(gDims.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*)
      if (useHaving) direct = direct.filter(col("a1") > 100.0)
      // flatten-skip parity: drop rows where every selected value is null
      val fieldNames = aggs.map(a => if (a.sql == "_points") "_points" else a.name)
      direct = direct.filter(fieldNames.map(n => col(n).isNotNull).reduce(_ || _))
      val want = direct.orderBy(gDims.map(col): _*).collect()

      assert(got.length == want.length,
        s"[case $i] row count ${got.length} vs ${want.length}\n$sql")
      got.zip(want).foreach { case (g, w) =>
        gDims.foreach(d => assert(g.getAs[Any](d) == w.getAs[Any](d),
          s"[case $i] dim $d differs\n$sql"))
        fieldNames.foreach { n =>
          val (a, b) = (g.getAs[Any](n), w.getAs[Any](n))
          val ok = (a == null && b == null) ||
            (a != null && b != null &&
              math.abs(a.toString.toDouble - b.toString.toDouble) < 1e-9)
          assert(ok, s"[case $i] field $n: $a vs $b\n$sql")
        }
      }
      checked += 1
    }
    assert(checked == 40)
  }

  test("30 random period/dim-fn/arithmetic queries over events match direct builds") {
    val cat = Catalog.fromParquetDir(spark, dir, Seq("events"))
    val ev = cat.get("events").df
    val rnd = new scala.util.Random(42L)
    val periods = Seq(3600000L -> "period('1h')", 21600000L -> "period('6h')",
      86400000L -> "period('1d')")

    for (i <- 0 until 30) {
      val (bucketMs, periodSql) = periods(rnd.nextInt(periods.size))
      val dimPick = rnd.nextInt(3)
      val (dimSql, dimName, dimCol) = dimPick match {
        case 0 => ("event_type", "event_type", col("event_type"))
        case 1 => ("CONCAT('_', event_type, user_id) AS c", "c",
          concat_ws("_", col("event_type"), col("user_id")))
        case 2 => ("SUBSTR(event_type, 1, 3) AS c", "c",
          col("event_type").substr(1, 3))
      }
      val arith = rnd.nextInt(3)
      val (fSql, fDirect): (String, Seq[Column] => Column) = arith match {
        case 0 => ("SUM(value * 100) / 100 AS f" -> (a => a(0) / 100))
        case 1 => ("SUM(value * 100) / _points AS f" -> (a => a(0) / a(1)))
        case 2 => ("LOG10(_points) AS f" -> (a => log10(a(1))))
      }
      val whereSql = if (rnd.nextBoolean()) " WHERE user_id < 300" else ""

      val sql = s"SELECT $fSql, _points FROM events$whereSql " +
        s"GROUP BY $dimSql, $periodSql ORDER BY _time, $dimName"
      val got = Engine.sql(cat, sql).collect()

      var direct = ev
      if (whereSql.nonEmpty) direct = direct.filter(col("user_id") < 300)
      val bucket = timestamp_millis(
        (floor(unix_millis(col("ts")) / lit(bucketMs.toDouble)) * bucketMs)
          .cast("long")).as("_time")
      val sumv = sum(col("value") * 100)
      val pts = count(lit(1)).cast("double")
      direct = direct.groupBy(bucket, dimCol.as(dimName))
        .agg(sumv.as("__s"), pts.as("_points"))
        .withColumn("f", fDirect(Seq(col("__s"), col("_points"))))
        .drop("__s")
        .orderBy(col("_time"), col(dimName))
      val want = direct.collect()

      assert(got.length == want.length,
        s"[case $i] rows ${got.length} vs ${want.length}\n$sql")
      got.zip(want).foreach { case (g, w) =>
        assert(g.getAs[Any](dimName) == w.getAs[Any](dimName), s"[case $i] dim\n$sql")
        assert(g.getAs[java.sql.Timestamp]("_time") == w.getAs[java.sql.Timestamp]("_time"),
          s"[case $i] time\n$sql")
        for (n <- Seq("f", "_points")) {
          val (a, b) = (g.getAs[Any](n), w.getAs[Any](n))
          val ok = (a == null && b == null) || (a != null && b != null &&
            math.abs(a.toString.toDouble - b.toString.toDouble) <=
              1e-9 * math.max(1.0, math.abs(b.toString.toDouble)))
          assert(ok, s"[case $i] $n: $a vs $b\n$sql")
        }
      }
    }
  }

  test("25 random SHIFT compositions (dims x period x WHERE x HAVING x arith) match union-regroup builds") {
    // the risk-register composition space (SURVEY §7.4 #3): SHIFT with 0-2
    // dims, 1-2 distinct offsets, optional WHERE / HAVING / arithmetic on a
    // shifted value — checked against an INDEPENDENT construction (the
    // union-all + regroup + clamp shape of the oracle SQL, built with plain
    // DataFrame ops) rather than the planner's explode path
    val cat = Catalog.fromParquetDir(spark, dir, Seq("orders"))
    val od = cat.get("orders").df
    val rnd = new scala.util.Random(20260814L)
    val dayMs = 86400000L
    val dimPool = Seq("o_orderpriority", "o_orderstatus")
    val wherePool: Seq[(String, Column)] = Seq(
      "o_orderstatus = 'F'" -> (col("o_orderstatus") === "F"),
      "o_orderpriority IN ('1-URGENT', '2-HIGH')" ->
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))

    for (i <- 0 until 25) {
      val dims = rnd.shuffle(dimPool).take(rnd.nextInt(3))
      val pd = Seq(30, 60)(rnd.nextInt(2))
      val p = pd * dayMs
      val offs = rnd.shuffle(Seq(1, 2, 3)).take(1 + rnd.nextInt(2))
      val shCols = offs.zipWithIndex.map { case (k, j) => (s"s$j", k) }
      val withDelta = rnd.nextBoolean()
      val where = if (rnd.nextBoolean()) Some(wherePool(rnd.nextInt(wherePool.size))) else None
      val haveC = if (rnd.nextBoolean()) Some(Seq(100000, 400000)(rnd.nextInt(2))) else None

      val revSql = "SUM(o_totalprice * 100) / 100"
      val sql = new StringBuilder(s"SELECT $revSql AS rev")
      shCols.foreach { case (n, k) => sql.append(s", SHIFT($revSql, '-${k * pd}d') AS $n") }
      if (withDelta)
        sql.append(s", $revSql - SHIFT($revSql, '-${offs.head * pd}d') AS delta")
      sql.append(" FROM orders")
      where.foreach { case (w, _) => sql.append(s" WHERE $w") }
      sql.append(" GROUP BY ")
        .append(((if (dims.isEmpty) Seq("_") else dims) :+ s"period('${pd}d')").mkString(", "))
      haveC.foreach(c => sql.append(s" HAVING rev > $c"))
      sql.append(" ORDER BY ").append((dims :+ "_time").mkString(", "))

      val got = Engine.sql(cat, sql.toString).collect()

      // independent build: base agg per (dims, bucket), one union-all entry
      // per shift re-keyed +offset, max-regroup, clamp to the dims group's
      // own [first, last] data bucket, flatten-skip, HAVING
      var src = od
      where.foreach { case (_, c) => src = src.filter(c) }
      val dimCols = dims.map(col)
      val tExpr = (floor(unix_millis(col("o_orderdate").cast("timestamp")) /
        lit(p.toDouble)) * p).cast("long")
      val base = src
        .groupBy((dimCols :+ timestamp_millis(tExpr).as("_time")): _*)
        .agg((sum(col("o_totalprice") * 100) / 100).as("rev"))
      val shNames = shCols.map(_._1)
      def entry(revV: Column, tOff: Long, active: Map[String, Column]): DataFrame =
        base.select((dimCols :+
          timestamp_millis(unix_millis(col("_time")) + tOff).as("_time") :+
          revV.as("rev")) ++
          shNames.map(n => active.getOrElse(n, lit(null).cast("double")).as(n)): _*)
      val unioned = shCols
        .map { case (n, k) => entry(lit(null).cast("double"), k * p, Map(n -> col("rev"))) }
        .foldLeft(entry(col("rev"), 0L, Map.empty))(_ unionByName _)
      var want = unioned
        .groupBy((dimCols :+ col("_time")): _*)
        .agg(max(col("rev")).as("rev"), shNames.map(n => max(col(n)).as(n)): _*)
      val bounds = want.filter(col("rev").isNotNull)
        .groupBy(dimCols: _*)
        .agg(min("_time").as("__lo"), max("_time").as("__hi"))
      want = (if (dims.isEmpty) want.crossJoin(bounds) else want.join(bounds, dims))
        .filter(col("_time").between(col("__lo"), col("__hi")))
        .drop("__lo", "__hi")
      if (withDelta) want = want.withColumn("delta", col("rev") - col("s0"))
      val fieldNames = Seq("rev") ++ shNames ++ (if (withDelta) Seq("delta") else Nil)
      want = want.filter(fieldNames.map(col(_).isNotNull).reduce(_ || _))
      haveC.foreach(c => want = want.filter(col("rev") > c))

      val outCols = dims ++ Seq("_time") ++ fieldNames
      def canon(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
        rows.map(r => outCols.map(c => r.getAs[Any](c) match {
          case null                => "null"
          case d: java.lang.Double => f"${d.doubleValue}%.4f"
          case x                   => String.valueOf(x)
        }).mkString("|")).toSeq.sorted
      assert(canon(got) == canon(want.collect()),
        s"[case $i] SHIFT composition diverged\n$sql")
    }
  }

  test("20 random CROSSTAB/CROSSTABT queries match native pivot builds") {
    // dynamic-pivot space (SURVEY §7.4 #4): random pivot dim x row dims x
    // 1-2 fields x optional WHERE/period/totals, checked against Spark's own
    // groupBy().pivot() — a construction the planner does not use (it
    // collects pivot values and builds conditional aggregates)
    val liCat = Catalog.fromParquetDir(spark, dir, Seq("lineitem"))
    val liDf = liCat.get("lineitem").df
    val rnd = new scala.util.Random(20260815L)
    val dayMs = 86400000L
    val dimPool = Seq("l_returnflag", "l_linestatus")

    for (i <- 0 until 20) {
      val pivotDim = dimPool(rnd.nextInt(dimPool.size))
      val rowDims = rnd.shuffle(dimPool.filterNot(_ == pivotDim)).take(rnd.nextInt(2))
      val totals = rnd.nextBoolean()
      val twoFields = rnd.nextBoolean()
      val usePeriod = rnd.nextBoolean()
      val pd = 90
      val where = if (rnd.nextBoolean()) Some(
        "l_quantity > 20" -> (col("l_quantity") > 20)) else None

      val fields = Seq("qty" -> "SUM(l_quantity)") ++
        (if (twoFields) Seq("rev" -> "SUM(l_extendedprice * 100) / 100") else Nil)
      val ct = if (totals) "CROSSTABT" else "CROSSTAB"
      val sql = new StringBuilder("SELECT ")
      sql.append(fields.map { case (n, e) => s"$e AS $n" }.mkString(", "))
      sql.append(" FROM lineitem")
      where.foreach { case (w, _) => sql.append(s" WHERE $w") }
      sql.append(" GROUP BY ")
      sql.append(((if (rowDims.isEmpty) Seq("_") else rowDims) :+ s"$ct($pivotDim)") ++
        (if (usePeriod) Seq(s"period('${pd}d')") else Nil) mkString ", ")
      if (rowDims.nonEmpty) sql.append(" ORDER BY " + rowDims.mkString(", "))

      val got = Engine.sql(liCat, sql.toString).collect()
      val gotCols = Engine.sql(liCat, sql.toString).columns.toSeq

      var src = liDf
      where.foreach { case (_, c) => src = src.filter(c) }
      val p = pd * dayMs
      val bucket = timestamp_millis(
        (floor(unix_millis(col("l_shipdate").cast("timestamp")) / lit(p.toDouble)) * p)
          .cast("long")).as("_time")
      val keys: Seq[Column] = rowDims.map(col) ++ (if (usePeriod) Seq(bucket) else Nil)
      def aggCols = Seq(sum(col("l_quantity")).as("qty")) ++
        (if (twoFields) Seq((sum(col("l_extendedprice") * 100) / 100).as("rev")) else Nil)
      var want = (if (keys.isEmpty) src.groupBy(lit(1).as("__g")) else src.groupBy(keys: _*))
        .pivot(lower(col(pivotDim)))
        .agg(aggCols.head, aggCols.tail: _*)
        .drop("__g")
      // single-field pivots name columns bare `<val>`; engine names them
      // `<val>_<field>` always
      if (fields.size == 1) {
        val keyNames = rowDims ++ (if (usePeriod) Seq("_time") else Nil)
        want.columns.filterNot(keyNames.contains).foreach { c =>
          want = want.withColumnRenamed(c, s"${c}_${fields.head._1}")
        }
      }
      if (totals) {
        val totAggs = Seq(sum(col("l_quantity")).as("total_qty")) ++
          (if (twoFields) Seq((sum(col("l_extendedprice") * 100) / 100).as("total_rev")) else Nil)
        val totDf = (if (keys.isEmpty) src.groupBy(lit(1).as("__g")) else src.groupBy(keys: _*))
          .agg(totAggs.head, totAggs.tail: _*).drop("__g")
        val keyNames = rowDims ++ (if (usePeriod) Seq("_time") else Nil)
        want = if (keyNames.isEmpty) want.crossJoin(totDf)
        else want.join(totDf, keyNames)
      }
      assert(gotCols.sorted == want.columns.toSeq.sorted,
        s"[case $i] column sets differ: $gotCols vs ${want.columns.toSeq}\n$sql")
      val outCols = gotCols.sorted
      def canon(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
        rows.map(r => outCols.map(c => r.getAs[Any](c) match {
          case null                => "null"
          case d: java.lang.Double => f"${d.doubleValue}%.4f"
          case x                   => String.valueOf(x)
        }).mkString("|")).toSeq.sorted
      assert(canon(got) == canon(want.collect()),
        s"[case $i] CROSSTAB diverged\n$sql")
    }
  }

  test("25 random IN-subquery compositions match driver-membership builds") {
    // the two-phase bounded IN machinery (semi/anti-join when isolated,
    // collect+membership under OR/NOT — planner/subquery.go parity) checked
    // against the dumbest possible equivalent: collect the subquery's
    // members on the driver and test isin() inline
    val cat = Catalog.fromParquetDir(spark, dir, Seq("lineitem", "part"))
    val liDf = cat.get("lineitem").df
    val ptDf = cat.get("part").df
    val rnd = new scala.util.Random(20260816L)

    for (i <- 0 until 25) {
      val c = Seq(30, 40, 45, 48)(rnd.nextInt(4))
      val subPred = s"p_size > $c"
      val members = ptDf.filter(col("p_size") > c)
        .select("p_partkey").collect().map(_.getLong(0)).toSeq
      val inSql = s"l_partkey IN (SELECT p_partkey FROM part WHERE $subPred)"
      val inCol = if (members.isEmpty) lit(false) else col("l_partkey").isin(members: _*)
      val dimPred = Seq(
        "l_linestatus = 'O'" -> (col("l_linestatus") === "O"),
        "l_returnflag = 'R'" -> (col("l_returnflag") === "R"))(rnd.nextInt(2))
      val (whereSql, whereCol) = rnd.nextInt(6) match {
        case 0 => (inSql, inCol)
        case 1 => (s"l_partkey NOT IN (SELECT p_partkey FROM part WHERE $subPred)", !inCol)
        case 2 => (s"$inSql OR ${dimPred._1}", inCol || dimPred._2)
        case 3 => (s"$inSql AND ${dimPred._1}", inCol && dimPred._2)
        case 4 => (s"NOT ($inSql OR ${dimPred._1})", !(inCol || dimPred._2))
        case 5 => (s"${dimPred._1} OR NOT ($inSql)", dimPred._2 || !inCol)
      }
      val sql = s"SELECT SUM(l_quantity) AS qty, _points FROM lineitem " +
        s"WHERE $whereSql GROUP BY l_returnflag ORDER BY l_returnflag"
      val got = Engine.sql(cat, sql).collect()
      val want = liDf.filter(whereCol)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("qty"),
          count(lit(1)).cast("double").as("_points"))
        .orderBy(col("l_returnflag")).collect()

      def canon(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
        rows.map(r => Seq("l_returnflag", "qty", "_points").map(c =>
          r.getAs[Any](c) match {
            case null                => "null"
            case d: java.lang.Double => f"${d.doubleValue}%.4f"
            case x                   => String.valueOf(x)
          }).mkString("|")).toSeq.sorted
      assert(canon(got) == canon(want),
        s"[case $i] IN-subquery composition diverged\n$sql")
    }
  }
}
