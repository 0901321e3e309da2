package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class TableSpec extends SparkSpec {

  private def rangeTable(n: Int, parts: Int = 4): Table =
    Table.range(spark, n, parts)

  test("range produces keyed 0..n-1") {
    val t = rangeTable(100)
    assert(t.count() === 100)
    assert(t.key === Seq("idx"))
    val got = t.collect().map(_.getLong(0))
    assert(got.toSeq === (0L until 100L))
  }

  test("keyBy prefix keeps sortedness; new key drops it") {
    val t = rangeTable(10).annotate("v" -> (col("idx") * 2))
    assert(t.keyBy("idx").keySorted)
    assert(!t.keyBy("v").keySorted)
  }

  test("distinctByKey keeps first row in tiebreak order") {
    val df = spark.createDataFrame(Seq(
      (1, "b", 20), (1, "a", 10), (2, "c", 30), (2, "d", 5)))
      .toDF("k", "tag", "v")
    val got = Table(df, Seq("k"))
      .distinctByKey(tieBreak = Seq(col("v")))
      .df.select("k", "tag").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got === Set((1, "a"), (2, "d")))
  }

  test("head and tail respect key order") {
    val t = rangeTable(50)
    assert(t.head(3).df.collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(t.tail(3).df.collect().map(_.getLong(0)).toSeq ===
      Seq(47L, 48L, 49L))
  }

  test("join merges globals and joins on shared key prefix") {
    val a = rangeTable(10).annotate("x" -> col("idx") * 10)
      .annotateGlobals("ga" -> 1)
    val b = rangeTable(5).annotate("y" -> (col("idx") + 100))
      .annotateGlobals("gb" -> "two")
    val j = a.join(b, "inner")
    assert(j.globals === Map("ga" -> 1, "gb" -> "two"))
    assert(j.count() === 5)
    val r = j.df.filter(col("idx") === 3).head()
    assert(r.getAs[Long]("x") === 30L && r.getAs[Long]("y") === 103L)
  }

  test("left join keeps unmatched; semi/anti partition the table") {
    val a = rangeTable(10)
    val b = rangeTable(4)
    assert(a.join(b, "left").count() === 10)
    assert(a.semiJoin(b).count() === 4)
    assert(a.antiJoin(b).count() === 6)
  }

  test("filterIntervals keeps rows in [start,end) and supports drop") {
    val t = rangeTable(100)
    assert(t.filterIntervals(Seq((10L, 20L), (50L, 55L))).count() === 15)
    assert(t.filterIntervals(Seq((0L, 90L)), keep = false).count() === 10)
  }

  test("explodeField flattens arrays") {
    val t = rangeTable(3).annotate("a" -> sequence(lit(0), col("idx")))
    assert(t.explodeField("a").count() === 6) // 1 + 2 + 3
  }

  test("native write/read roundtrip preserves key, globals, data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_native")
      .toString
    val t = rangeTable(20).annotate("v" -> (col("idx") % 3))
      .annotateGlobals("version" -> 7, "name" -> "t20")
    t.write(s"$dir/t")
    val back = Table.read(spark, s"$dir/t")
    assert(back.key === Seq("idx"))
    assert(back.globals("version") === 7L ||
      back.globals("version") === 7) // json numbers come back as long
    assert(back.globals("name") === "t20")
    assert(back.count() === 20)
  }

  test("native read parses the manifest on the driver: Table.read runs no job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nojob").toString
    rangeTable(1000, 4).annotateGlobals("n" -> 7, "x" -> 0.5,
      "s" -> "a\"b\n\u0001", "b" -> true, "z" -> null).write(s"$dir/t")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      jobs.set(0)
      val back = Table.read(spark, s"$dir/t")
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      assert(jobs.get == 0, s"${jobs.get} jobs")
      assert(back.keySorted)
      // read-back types: ints as Long, floats as Double, JSON null as null
      assert(back.globals === Map("n" -> 7L, "x" -> 0.5,
        "s" -> "a\"b\n\u0001", "b" -> true, "z" -> null))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("aggregateByKey groups on current key") {
    val df = spark.createDataFrame(Seq((1, 2.0), (1, 3.0), (2, 5.0)))
      .toDF("k", "v")
    val got = Table(df, Seq("k"))
      .aggregateByKey("s" -> sum(col("v")), "n" -> count(lit(1)))
      .df.collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
      .toSet
    assert(got === Set((1, 5.0, 2L), (2, 5.0, 1L)))
  }

  test("orderBy gives total order") {
    val t = rangeTable(100).annotate("neg" -> -col("idx"))
    val got = t.orderBy(col("neg").asc).df.collect().map(_.getLong(0))
    assert(got.head === 99L && got.last === 0L)
  }

  test("explodePath explodes a nested array keeping enclosing structs") {
    val t = rangeTable(3).annotate("s" -> struct(
      sequence(lit(0), col("idx")).as("a"), lit("tag").as("t")))
    val got = t.explodePath("s", "a")
    assert(got.count() === 6) // 1 + 2 + 3
    val r = got.df.filter(col("idx") === 2).select(
      col("s")("a").cast("long"), col("s")("t")).collect()
    assert(r.map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L))
    assert(r.forall(_.getString(1) == "tag"))
  }

  test("literal builds a LocalRelation (no RDD scan) and joins broadcast") {
    val lt = Table.literal(spark, Seq(Row(1, "one"), Row(2, "two")),
      StructType(Seq(StructField("k", IntegerType),
        StructField("name", StringType))), Seq("k"))
    assert(lt.df.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"))
    val big = rangeTable(100).annotate("k" -> (col("idx") % 3 + 1)
      .cast("int")).keyBy("k")
    val joined = big.join(lt, "inner")
    assert(joined.df.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    assert(joined.count() === 67) // idx%3 in {0,1} → k in {1,2}
  }

  test("pipeJson through cat is identity; pipeTsv through awk transforms") {
    val t = rangeTable(50).annotate("v" -> (col("idx") * 2))
    val schema = StructType(Seq(StructField("idx", LongType),
      StructField("v", LongType)))
    val back = t.pipeJson(Seq("/bin/cat"), schema)
    assert(back.df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === t.df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // a jq-shaped transform: awk computes a derived third column
    val outSchema = StructType(Seq(StructField("idx", LongType),
      StructField("v", LongType), StructField("sum", LongType)))
    val awk = t.pipeTsv(Seq("awk",
      "-F\t", "{ OFS=\"\t\"; print $1, $2, $1 + $2 }"), outSchema)
    val got = awk.df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 50)
    assert(got.forall { case (i, v, s) => v == 2 * i && s == i + v })
  }

  test("pipe filters and fans out by output cardinality") {
    val t = rangeTable(10)
    val schema = StructType(Seq(StructField("idx", LongType)))
    // keep even rows only (annotator-as-filter)
    val evens = t.pipeTsv(Seq("awk", "-F\t", "$1 % 2 == 0"), schema)
    assert(evens.df.collect().map(_.getLong(0)).sorted.toSeq
      === Seq(0L, 2L, 4L, 6L, 8L))
  }

  test("queryTable prunes files via manifest key ranges; head has no exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qt").toString
    // 4 range partitions → 4 sorted parquet files with disjoint ranges
    rangeTable(1000, 4).annotate("v" -> (col("idx") * 3)).write(s"$dir/t")
    val (_, _, files) = NativeFormat.readManifestFull(spark, s"$dir/t")
    assert(files.length >= 2, s"expected multiple files, got $files")
    val q = Table.queryTable(spark, s"$dir/t", 10L, 20L)
    // driver-side pruning: the scan reads fewer files than the table has
    val scanned = q.df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }.sum
    assert(scanned < files.length, s"scanned $scanned of ${files.length}")
    assert(q.df.collect().map(_.getLong(0)).sorted.toSeq
      === (10L until 20L))
    // keyed head compiles to TakeOrderedAndProject — no range exchange
    val headPlan = q.head(3).df.queryExecution.executedPlan.toString
    assert(headPlan.contains("TakeOrderedAndProject"), headPlan.take(1500))
    assert(!headPlan.contains("rangepartitioning"), headPlan.take(1500))
    assert(q.head(3).df.collect().map(_.getLong(0)).toSeq
      === Seq(10L, 11L, 12L))
  }

  test("saltedJoin equals the plain equi-join and spreads the hot key") {
    import graft.operators.Skew
    // one pathological hot key (0) plus a uniform tail
    val left = spark.range(10000)
      .select(when(col("id") < 5000, 0L).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val right = spark.range(200).select(col("id").as("k"),
      (col("id") * 10).as("v"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val plain = left.join(right, Seq("k"))
    val salted = Skew.saltedJoin(left, right, Seq("k"), saltFactor = 8)
    assert(canon(salted) === canon(plain))
    val plainL = left.join(right, Seq("k"), "left")
    val saltedL = Skew.saltedJoin(left, right, Seq("k"), 8, "left")
    assert(canon(saltedL) === canon(plainL))
    // the hot key's rows really do carry several distinct salts
    val salts = left.filter(col("k") === 0)
      .withColumn("__salt", pmod(xxhash64(left.columns.map(col): _*),
        lit(8L)))
      .select("__salt").distinct().count()
    assert(salts > 1, s"hot key landed on $salts salt(s)")
  }

  test("multiWayZipJoin zips duplicate keys positionally") {
    val a = Table(spark.createDataFrame(
      Seq((1, "a1"), (1, "a2"), (2, "b1"))).toDF("k", "v"), Seq("k"))
    val b = Table(spark.createDataFrame(
      Seq((1, "x1"), (1, "x2"), (1, "x3"), (3, "y1"))).toDF("k", "v"),
      Seq("k"))
    val z = a.multiWayZipJoin(Seq(b))
    val rows = z.df.collect().map { r =>
      val arr = r.getSeq[org.apache.spark.sql.Row](1)
      (r.getInt(0), arr.map(Option(_).map(_.getString(0))))
    }
    // key 1: 3 rows (max dup count) — a exhausts after 2, padded null;
    // key 2 and 3: one row each with the absent table null
    assert(rows.count(_._1 == 1) === 3)
    val k1 = rows.filter(_._1 == 1)
    assert(k1.count(_._2(0).isDefined) === 2, "a contributes 2 rows")
    assert(k1.count(_._2(1).isDefined) === 3, "b contributes 3 rows")
    assert(rows.filter(_._1 == 2).toSeq ===
      Seq((2, Seq(Some("b1"), None))))
    assert(rows.filter(_._1 == 3).toSeq ===
      Seq((3, Seq(None, Some("y1")))))
  }

  test("addIndex is contiguous 0-based in key order, any partitioning") {
    val t = Table(rangeTable(500).df.repartition(7), Seq("idx"))
    val got = t.addIndex("ri").df.orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === (0L until 500L).map(i => (i, i)))
  }

  test("sample is deterministic per (seed, key) and partition-stable") {
    val t = rangeTable(1000)
    val a = t.sample(0.3, seed = 7).df.collect().map(_.getLong(0)).sorted
    val b = t.sample(0.3, seed = 7).df.collect().map(_.getLong(0)).sorted
    assert(a.toSeq === b.toSeq)
    // stable under physical repartitioning (unlike df.sample)
    val c = Table(t.df.repartition(13), Seq("idx"))
      .sample(0.3, seed = 7).df.collect().map(_.getLong(0)).sorted
    assert(a.toSeq === c.toSeq)
    assert(a.length > 200 && a.length < 400, s"got ${a.length} of 1000")
    // a different seed samples a different set
    val d = t.sample(0.3, seed = 8).df.collect().map(_.getLong(0)).sorted
    assert(d.toSeq !== a.toSeq)
  }

  test("checkpoint pins data and reads back key-sorted") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val t = rangeTable(100).annotate("v" -> (col("idx") * 2))
      .checkpoint(s"$dir/t")
    assert(t.keySorted)
    assert(t.count() === 100)
    assert(t.df.collect().map(_.getLong(0)).toSeq === (0L until 100L))
  }

  test("native write records exact per-file key ranges from footers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fkr").toString
    rangeTable(1000, 4).annotate("v" -> (col("idx") * 3)).write(s"$dir/t")
    val (_, _, files) = NativeFormat.readManifestFull(spark, s"$dir/t")
    assert(files.length === 4)
    // footer stats on int64 are exact: ranges tile 0..999 contiguously
    val ranges = files.map(f =>
      (f._2.asInstanceOf[Number].longValue,
        f._3.asInstanceOf[Number].longValue))
    assert(ranges.head._1 === 0L && ranges.last._2 === 999L)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo, s"overlap in $ranges")
      case _ =>
    }
  }

  test("native write records string key ranges from binary footer stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fkrs").toString
    val n = Table(Table.fromParquet(spark, s"$sfDir/nation.parquet").df,
      Seq("n_name"))
    n.write(s"$dir/t")
    val (_, _, files) = NativeFormat.readManifestFull(spark, s"$dir/t")
    assert(files.nonEmpty)
    val names = n.df.select("n_name").collect().map(_.getString(0)).sorted
    assert(NativeFormat.cmp(files.head._2, names.head) <= 0)
    assert(NativeFormat.cmp(files.last._3, names.last) >= 0)
  }

  test("native read-back is key-sorted: no exchange on write-after-read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_srt").toString
    rangeTable(1000, 4).annotate("v" -> (col("idx") * 3)).write(s"$dir/t")
    val back = Table.read(spark, s"$dir/t")
    assert(back.keySorted, "read-back of disjoint-range files not sorted")
    // ensureKeyOrder is the write/collect entry point: it must be a no-op
    assert(back.ensureKeyOrder() eq back)
    // rows really do come back in global key order without a sort
    assert(back.df.collect().map(_.getLong(0)).toSeq === (0L until 1000L))
    // flag hygiene: overwriting a key field drops sortedness,
    // non-key annotation keeps it
    assert(!back.annotate("idx" -> -col("idx")).keySorted)
    assert(back.annotate("w" -> (col("v") + 1)).keySorted)
  }

  test("read-back past the ordered-union file cap falls back unsorted") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cap").toString
    rangeTable(200, 70).write(s"$dir/t")
    val back = Table.read(spark, s"$dir/t")
    assert(!back.keySorted)
    assert(back.count() === 200)
    // order-sensitive consumers still correct through ensureKeyOrder
    assert(back.collect().map(_.getLong(0)).toSeq === (0L until 200L))
  }

  test("asOfJoin matches a brute-force reference on random data") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(17)
    val leftRows = (1 to 300).map(i =>
      (i.toLong, (rng.nextInt(5) + 1).toLong, rng.nextInt(1000).toLong))
    val rightRows = (1 to 200).map(i =>
      (i.toLong, (rng.nextInt(5) + 1).toLong, rng.nextInt(1000).toLong))
    val left = spark.createDataFrame(leftRows).toDF("lid", "user", "t")
      .repartition(5)
    val right = spark.createDataFrame(rightRows)
      .toDF("rid", "user", "rt").repartition(3)
    val got = graft.operators.AsOfJoin.backward(left, right,
      Seq("user"), "t", "rt", Seq("rid"), toleranceNs = Some(200L),
      tieBreak = Seq("rid"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // brute force: per left row, the right row with the max (rt, rid)
    // among rt <= t, nulled when older than the tolerance
    val want = leftRows.map { case (lid, u, t) =>
      val cands = rightRows.filter(r => r._2 == u && r._3 <= t)
      val best =
        if (cands.isEmpty) -1L
        else {
          val (rid, _, rt) = cands.maxBy(r => (r._3, r._1))
          if (t - rt <= 200L) rid else -1L
        }
      lid -> best
    }.toMap
    assert(got === want)
  }

  test("asOfJoin forward/nearest match a brute-force reference on random data") {
    val rng = new scala.util.Random(29)
    val leftRows = (1 to 300).map(i =>
      (i.toLong, (rng.nextInt(5) + 1).toLong, rng.nextInt(1000).toLong))
    val rightRows = (1 to 200).map(i =>
      (i.toLong, (rng.nextInt(5) + 1).toLong, rng.nextInt(1000).toLong))
    val left = spark.createDataFrame(leftRows).toDF("lid", "user", "t")
      .repartition(5)
    val right = spark.createDataFrame(rightRows)
      .toDF("rid", "user", "rt").repartition(3)
    def run(dir: String) = (dir match {
      case "f" => graft.operators.AsOfJoin.forward(left, right,
        Seq("user"), "t", "rt", Seq("rid"), toleranceNs = Some(200L),
        tieBreak = Seq("rid"))
      case _ => graft.operators.AsOfJoin.nearest(left, right,
        Seq("user"), "t", "rt", Seq("rid"), toleranceNs = Some(200L),
        tieBreak = Seq("rid"))
    }).collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // brute force — forward: min (rt, then max rid at that rt) among
    // rt >= t within tolerance; ties at equal rt go to the largest rid
    def bwd(u: Long, t: Long): Option[(Long, Long)] = {
      val c = rightRows.filter(r => r._2 == u && r._3 <= t && t - r._3 <= 200L)
      if (c.isEmpty) None else Some {
        val b = c.maxBy(r => (r._3, r._1)); (b._1, b._3) }
    }
    def fwd(u: Long, t: Long): Option[(Long, Long)] = {
      val c = rightRows.filter(r => r._2 == u && r._3 >= t && r._3 - t <= 200L)
      if (c.isEmpty) None else Some {
        val b = c.minBy(r => (r._3, -r._1)); (b._1, b._3) }
    }
    val wantF = leftRows.map { case (lid, u, t) =>
      lid -> fwd(u, t).map(_._1).getOrElse(-1L) }.toMap
    assert(run("f") === wantF)
    val wantN = leftRows.map { case (lid, u, t) =>
      lid -> ((bwd(u, t), fwd(u, t)) match {
        case (None, None) => -1L
        case (Some((r, _)), None) => r
        case (None, Some((r, _))) => r
        case (Some((rb, tb)), Some((rf, tf))) =>
          if (t - tb <= tf - t) rb else rf // tie -> backward
      }) }.toMap
    assert(run("n") === wantN)
  }

  test("asOfJoin strict and null-time semantics") {
    val left = spark.createDataFrame(Seq(
      (1L, 100L, Some(40L)), // sits exactly on a right row
      (2L, 100L, Some(41L)),
      (3L, 100L, None)       // null left time -> never matches
    )).toDF("id", "user", "t")
    val right = spark.createDataFrame(Seq(
      (100L, Some(40L), "x"), (100L, Some(60L), "y"),
      (100L, Option.empty[Long], "NULLTIME") // must be dropped, not carried
    )).toDF("user", "rt", "tag")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else r.getString(3))).toMap
    import graft.operators.AsOfJoin
    // exact matches allowed: t=40 takes the rt=40 row both directions
    assert(m(AsOfJoin.backward(left, right, Seq("user"), "t", "rt",
      Seq("tag"))) === Map(1L -> "x", 2L -> "x", 3L -> null))
    assert(m(AsOfJoin.forward(left, right, Seq("user"), "t", "rt",
      Seq("tag"))) === Map(1L -> "x", 2L -> "y", 3L -> null))
    // strict: the equal-time row is excluded
    assert(m(AsOfJoin.backward(left, right, Seq("user"), "t", "rt",
      Seq("tag"), allowExactMatches = false)) ===
      Map(1L -> null, 2L -> "x", 3L -> null))
    assert(m(AsOfJoin.forward(left, right, Seq("user"), "t", "rt",
      Seq("tag"), allowExactMatches = false)) ===
      Map(1L -> "y", 2L -> "y", 3L -> null))
    // nearest: t=41 is 1 from rt=40 and 19 from rt=60 -> backward side
    assert(m(AsOfJoin.nearest(left, right, Seq("user"), "t", "rt",
      Seq("tag"))) === Map(1L -> "x", 2L -> "x", 3L -> null))
  }

  test("asOfJoin backward: equal-time match, tolerance, ties, no-match") {
    import org.apache.spark.sql.functions._
    val left = spark.createDataFrame(Seq(
      (1L, 100L, 50L),  // matches right at 40 (most recent <= 50)
      (2L, 100L, 40L),  // equal time counts as at-or-before
      (3L, 100L, 9L),   // before any right row -> null
      (4L, 200L, 500L), // match at 10 but older than tolerance -> null
      (5L, 300L, 50L)   // user with no right rows -> null
    )).toDF("id", "user", "t")
    val right = spark.createDataFrame(Seq(
      (100L, 10L, "a"), (100L, 40L, "b1"), (100L, 40L, "b2"),
      (200L, 10L, "c")
    )).toDF("user", "rt", "tag")
    val got = graft.operators.AsOfJoin.backward(
      left, right, Seq("user"), "t", "rt", Seq("tag"),
      toleranceNs = Some(100L), tieBreak = Seq("tag"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else r.getString(3))).toMap
    assert(got === Map(
      1L -> "b2", // tie at rt=40 resolves to the largest tieBreak
      2L -> "b2", // equal time included
      3L -> null,
      4L -> null, // 500 - 10 > 100 tolerance
      5L -> null))
  }

  test("skewStats: exact top-k hot keys, counts, and ratio vs mean") {
    import org.apache.spark.sql.functions._
    // keys: a ×6, b ×2, c ×1 -> 9 rows / 3 keys, mean 3 rows per key
    val df = spark.createDataFrame(
      (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq.fill(1)("c"))
        .zipWithIndex.map { case (k, i) => (k, i.toLong) })
      .toDF("k", "v")
    val all = Table(df).skewStats(Seq("k"), 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(all.map(t => (t._1, t._2)).toSeq ===
      Seq(("a", 6L), ("b", 2L), ("c", 1L)))
    assert(math.abs(all(0)._3 - 2.0) < 1e-12)
    assert(math.abs(all(1)._3 - 2.0 / 3) < 1e-12)
    assert(math.abs(all(2)._3 - 1.0 / 3) < 1e-12)
    // k truncates after the count-desc sort
    val top = Table(df).skewStats(Seq("k"), 1).collect()
    assert(top.map(_.getString(0)).toSeq === Seq("a"))
    // top-k is TakeOrderedAndProject, never a global sort; the mean
    // side arrives broadcast
    val plan = Table(df).skewStats(Seq("k"), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(1500))
  }

  test("skewStatsByMass surfaces wide-row keys that count mode misses") {
    import org.apache.spark.sql.functions._
    // key "wide": 2 rows x 500 bytes; key "many": 8 rows x 10 bytes —
    // count mode ranks many first, byte mode must rank wide first
    val rows = Seq.fill(2)(("wide", "x" * 500)) ++
      Seq.fill(8)(("many", "y" * 10))
    val df = spark.createDataFrame(rows).toDF("k", "payload")
    val byCount = Table(df).skewStats(Seq("k"), 1)
      .collect().map(_.getString(0)).toSeq
    assert(byCount === Seq("many"))
    val byMass = Table(df)
      .skewStatsByMass(Seq("k"), octet_length(col("payload")), 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(byMass.map(_._1).toSeq === Seq("wide", "many"))
    // exact masses: 1000 vs 80; mean key mass 540
    assert(byMass(0)._3 === 1000.0 && byMass(1)._3 === 80.0)
    assert(math.abs(byMass(0)._4 - 1000.0 / 540) < 1e-12)
    assert(byMass(0)._2 === 2L) // counts still reported
  }
}
