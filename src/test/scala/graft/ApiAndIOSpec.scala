package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.api._

/** The reference-parity façade plus source/sink roundtrips (the reference
  * has no sources at all — SURVEY §2.2 delegates them to Spark built-ins;
  * these pin that interval structs survive parquet/json/csv round trips). */
class ApiAndIOSpec extends SparkSuite {

  lazy val df = fixture()

  /** A fresh temp directory for `body`, removed with its contents after. */
  private def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("façade: quantileWindows + implicit intervalJoin syntax") {
    val quarters = quantileWindows(4, df, spancol = "span", label = "quarter")
    val j = df.intervalJoin(quarters, "span")
    assert(j.count() > 0)
    assert(j.columns.contains("quarter"))
    val g = groupbyIntervalJoin(df, quarters, Seq(Selector.Name("quarter")), "span" -> "span")
    assert(g.agg(count(lit(1)).as("n")).count() == 4)
    // round-3 facade methods resolve and run
    val keyed = df.select(lit("k").as("k"), col("span"))
    assert(keyed.intervalGaps(Seq("k")).count() == 0)          // contiguous fixture: no gaps
    assert(keyed.intervalSetIntersect(keyed, Seq("k")).count() == 1) // self ∩ self = 1 merged run
    assert(keyed.intervalSetSubtract(keyed, Seq("k")).count() == 0)  // self \ self = ∅
  }

  test("parquet roundtrip preserves interval structs and join results") {
    withTempDir("graft_io") { dir =>
      df.write.mode("overwrite").parquet(s"$dir/spans")
      val back = spark.read.parquet(s"$dir/spans")
      // parquet reads all fields nullable; compare names/types only
      assert(back.schema("span").dataType.simpleString == df.schema("span").dataType.simpleString)
      val quarters = quantileWindows(4, df, "span", "quarter")
      assertSameRows(
        df.intervalJoin(quarters, "span"),
        back.intervalJoin(quarters, "span"))
    }
  }

  test("json roundtrip (nested struct as JSON object)") {
    withTempDir("graft_json") { dir =>
      df.write.mode("overwrite").json(s"$dir/spans")
      val back = spark.read.schema(df.schema).json(s"$dir/spans")
      assert(back.count() == df.count())
      assert(back.select(min(col("span.start"))).head.getLong(0) ==
        df.select(min(col("span.start"))).head.getLong(0))
    }
  }

  test("csv roundtrip via flattened endpoints (csv has no nested types)") {
    withTempDir("graft_csv") { dir =>
      df.select(col("label"), col("x"), col("span.start").as("s"), col("span.stop").as("e"))
        .write.mode("overwrite").option("header", "true").csv(s"$dir/spans")
      val back = spark.read.option("header", "true").option("inferSchema", "true")
        .csv(s"$dir/spans")
        .select(col("label"), col("x"),
          struct(col("s").as("start"), col("e").as("stop")).as("span"))
      assert(back.count() == df.count())
      val quarters = quantileWindows(4, df, "span", "quarter")
      assert(back.intervalJoin(quarters, "span").count() ==
        df.intervalJoin(quarters, "span").count())
    }
  }

  test("interval layout sink: bucket partition pruning is lossless and actually prunes") {
    import graft.sources.IntervalLayout
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    withTempDir("graft_layout") { root =>
      val dir = s"$root/spans"
      val binWidth = 20000000000L // 20 s buckets over the ~600 s fixture
      IntervalLayout.write(df, dir, "span", binWidth)
      val (w, maxLen) = IntervalLayout.readMeta(spark, dir)
      assert(w == binWidth)
      assert(maxLen == df.select(max(expr("span.stop - span.start"))).head().getLong(0))

      // probe a narrow mid-corpus window
      val Some((lo, hi)) = graft.intervals.IntervalCols.coveringSpan(df, "span")
      val qlo = lo + (hi - lo) / 2
      val qhi = qlo + 30000000000L
      val pruned = IntervalLayout.readOverlapping(spark, dir, "span", qlo, qhi)
      // lossless: equals the brute-force overlap filter over the raw frame
      val expected = df.where(graft.intervals.IntervalCols.overlaps(col("span"),
        graft.intervals.IntervalCols.interval(lit(qlo), lit(qhi))))
      assertSameRows(pruned.select("label", "x", "span"), expected)

      // and it PRUNES: the scan's partition filters select a strict subset
      val plan = pruned.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = plan.collectFirst { case f: FileSourceScanExec => f }.get
      assert(scan.partitionFilters.nonEmpty, "bucket predicate must hit the partition index")
      val selected = scan.relation.location.listFiles(scan.partitionFilters, Nil).length
      val total = spark.read.parquet(dir).select("__bucket").distinct().count()
      assert(selected < total, s"selected=$selected of $total buckets — no pruning happened")
      // widened range really is needed: a long interval starting before qlo
      // but overlapping it is still found
      assert(pruned.count() == expected.count())
    }
  }

  test("interval layout: append keeps the widest maxLen; huge ticks bucket exactly") {
    import graft.sources.IntervalLayout
    import spark.implicits._
    withTempDir("graft_layout_app") { root =>
      val dir = s"$root/spans"
      val w = 1000000000L
      def mk(rows: (Long, Long)*) = rows.toSeq.toDF("s", "e")
        .select(struct(col("s").as("start"), col("e").as("stop")).as("span"))
      // batch 1 has a LONG interval; batch 2 is short — the sidecar must keep
      // the widest bound or batch-1 rows get pruned away later
      IntervalLayout.write(mk((0L, 50L * w)), dir, "span", w)
      IntervalLayout.write(mk((100L * w, 100L * w + 10L)), dir, "span", w, mode = "append")
      assert(IntervalLayout.readMeta(spark, dir) == ((w, 50L * w)))
      // probing late still finds the early long interval (needs the wide bound)
      val hit = IntervalLayout.readOverlapping(spark, dir, "span", 49L * w, 49L * w + 10L)
      assert(hit.count() == 1)
      // mismatched binWidth on append is rejected
      val e = intercept[IllegalArgumentException] {
        IntervalLayout.write(mk((0L, 1L)), dir, "span", w * 2, mode = "append")
      }
      assert(e.getMessage.contains("binWidth"))
      // bucket arithmetic stays exact past double's 2^53 mantissa: a start
      // whose quotient would round under double division
      val big = 4762308809719080237L
      withTempDir("graft_layout_big") { root2 =>
        val dir2 = s"$root2/spans"
        IntervalLayout.write(mk((big, big + 10L)), dir2, "span", w)
        val bucket = spark.read.parquet(dir2).select(col("__bucket")).head().getLong(0)
        assert(bucket == Math.floorDiv(big, w), s"got $bucket")
        assert(IntervalLayout.readOverlapping(spark, dir2, "span", big, big + 5L).count() == 1)
      }
    }
  }

  test("pre-binned bucketed tables: interval join with NO exchange, same pairs as intervalJoin") {
    import graft.sources.IntervalLayout
    val left = df.select(col("x").as("lx"), col("span"))
    val right = fixture(seed = 777L, n = 60)
      .select(col("x").as("rx"), col("span").as("rspan"))
    val w = 10000000000L // 10 s bins over the ~600 s fixture
    IntervalLayout.writeBinnedTable(left, "graft_binned_l", "span", w, nBuckets = 4)
    IntervalLayout.writeBinnedTable(right, "graft_binned_r", "rspan", w, nBuckets = 4)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // pair parity target computed first (the range join broadcasts)
      val expectedRows = collectSorted(graft.operators.IntervalJoin.intervalJoin(
        left, right, "span" -> "rspan",
        graft.operators.IntervalJoin.Options(
          strategy = graft.operators.IntervalJoin.Strategy.Range))
        .select(col("lx"), col("rx"), col("span.start"), col("span.stop")))
      // at test size Catalyst would broadcast (its own no-shuffle answer);
      // force the big-big path the bucketing exists for
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = IntervalLayout.joinBinnedTables(spark, "graft_binned_l", "graft_binned_r",
        "span", "rspan", w)
      assert(j.columns.toSeq ==
        Seq("lx", "span_left", "rx", "rspan_right", "span"))
      assert(collectSorted(
        j.select(col("lx"), col("rx"), col("span.start"), col("span.stop"))) == expectedRows)
      // the whole point: both sides bucket-read, joined with NO Exchange
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      // bucket metadata honored: selected buckets appear in the scan
      assert(plan.contains("Bucketed: true"), "scan must read bucket layout")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS graft_binned_l")
      spark.sql("DROP TABLE IF EXISTS graft_binned_r")
    }
  }

  test("profile: exact per-column stats in one pass, string-rendered range") {
    import spark.implicits._
    val d = Seq((1L, Some("a"), 10), (2L, None, 20), (3L, Some("a"), 30))
      .toDF("id", "s", "v")
    val got = graft.functions.Profiling.profile(d, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(got("id") == ((3L, 0L, 3L, "1", "3")))
    assert(got("s") == ((3L, 1L, 1L, "a", "a")))
    assert(got("v") == ((3L, 0L, 3L, "10", "30")))
    intercept[IllegalArgumentException] {
      graft.functions.Profiling.profile(d, Seq("nope"))
    }
  }

  test("diffSnapshots: added/removed/changed classification, null-safe compare, unchanged omitted") {
    import spark.implicits._
    val v1 = Seq(
      (1L, Some("a"), "x"), (2L, Some("b"), "x"), (3L, None, "x"),
      (4L, Some("d"), "x"), (5L, None, "x")).toDF("id", "t", "g")
    val v2 = Seq(
      (1L, Some("a"), "x"),  // unchanged -> omitted
      (2L, Some("B"), "x"),  // changed value
      (3L, Some("c"), "x"),  // null -> value = changed
      (5L, None, "x"),       // null -> null = unchanged
      (6L, Some("f"), "x")). // new key
      toDF("id", "t", "g")   // id 4 removed
    val got = graft.functions.Profiling.diffSnapshots(v1, v2, "id", Seq("t", "g"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "changed", 4L -> "removed", 6L -> "added"))
  }

  test("exactCorr: closed form matches a driver replica; zero variance yields NULL; deterministic") {
    import spark.implicits._
    val d = Seq(("g", 1L, 2L), ("g", 2L, 4L), ("g", 3L, 5L), ("g", 4L, 9L),
      ("flat", 5L, 1L), ("flat", 5L, 2L)).toDF("k", "x", "y")
    val got = graft.functions.Profiling.exactCorr(d, Seq("k"), "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    val (n, sx, sy, sxy, sxx, syy) = (4.0, 10.0, 20.0, 61.0, 30.0, 126.0)
    val want = BigDecimal((n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("g") == ((4L, Some(want))), s"got ${got("g")} want $want")
    assert(got("flat") == ((2L, None))) // x variance 0 -> undefined
    // permutation invariance: the decimal sums are order-free
    val shuffled = graft.functions.Profiling
      .exactCorr(d.repartition(5), Seq("k"), "x", "y")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(shuffled("g") == Some(want))
  }

  test("applyDelta: upserts replace/insert, deletes remove, carryover intact, unknown op rejected") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val delta = Seq((2L, "B", "upsert"), (3L, "c", "delete"),
      (9L, "z", "upsert")).toDF("id", "v", "op")
    val got = graft.functions.Profiling.applyDelta(base, delta, "id", "op")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "B"), (9L, "z")))
    val bad = Seq((1L, "x", "merge")).toDF("id", "v", "op")
    intercept[Exception] {
      graft.functions.Profiling.applyDelta(base, bad, "id", "op").collect()
    }
  }

  test("expectations: row rules, NULL counts as violation, uniqueness rule, one-pass") {
    import spark.implicits._
    val d = Seq(
      (Some(1L), Some("x")), (Some(1L), Some("y")),
      (Some(2L), None), (Option.empty[Long], Some("z"))).toDF("id", "v")
    val got = graft.functions.Profiling.expectations(d,
      Seq("id_not_null" -> col("id").isNotNull,
        "v_is_x" -> (col("v") === "x")),
      Seq("id_unique" -> Seq("id")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got("id_not_null") == ((4L, 1L, false)))
    // y, NULL (indeterminate = violation), z
    assert(got("v_is_x") == ((4L, 3L, false)))
    // distinct ids {1, 2, null} = 3 -> one duplicate row
    assert(got("id_unique") == ((4L, 1L, false)))
    val ok = graft.functions.Profiling.expectations(d,
      Seq("all_rows" -> lit(true))).head
    assert(ok.getLong(2) == 0L && ok.getBoolean(3))
    intercept[IllegalArgumentException] {
      graft.functions.Profiling.expectations(d,
        Seq("dup" -> lit(true)), Seq("dup" -> Seq("id")))
    }
    intercept[IllegalArgumentException] {
      graft.functions.Profiling.expectations(d, Nil, Seq("u" -> Seq("nope")))
    }
  }

  test("scd2: runs collapse, validity intervals chain, current row open") {
    import spark.implicits._
    val log = Seq(
      // u1: A(1), A(3) repeat, B(5), A(9) back again
      ("u1", 1L, 1L, "A"), ("u1", 3L, 2L, "A"), ("u1", 5L, 3L, "B"),
      ("u1", 9L, 4L, "A"),
      // u2: single observation
      ("u2", 2L, 5L, "Z")).toDF("u", "t", "seq", "attr")
    val got = graft.functions.Profiling
      .scd2(log, "u", Seq("t", "seq"), Seq("attr"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).toSet
    assert(got == Set(
      ("u1", "A", 1L, 5L, false),
      ("u1", "B", 5L, 9L, false),
      ("u1", "A", 9L, -1L, true),
      ("u2", "Z", 2L, -1L, true)))
  }

  test("scd2: null attribute values survive null-safe collapse, incl. a leading null") {
    import spark.implicits._
    val log = Seq(
      ("u", 1L, 1L, None), ("u", 2L, 2L, None),         // leading null run kept once
      ("u", 4L, 3L, Some("x")), ("u", 6L, 4L, None)).toDF("u", "t", "seq", "attr")
    val got = graft.functions.Profiling
      .scd2(log, "u", Seq("t", "seq"), Seq("attr"))
      .collect().map(r => (Option(r.getString(1)), r.getLong(2))).toSet
    assert(got == Set((None, 1L), (Some("x"), 4L), (None, 6L)))
  }

  test("scd2: same-timestamp change points order by the tiebreaker; reserved names rejected") {
    import spark.implicits._
    val log = Seq(("u", 5L, 1L, "A"), ("u", 5L, 2L, "B"), ("u", 7L, 3L, "B"))
      .toDF("u", "t", "seq", "attr")
    val got = graft.functions.Profiling
      .scd2(log, "u", Seq("t", "seq"), Seq("attr"))
      .collect().map(r => (r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got == Set(("A", 5L, 5L), ("B", 5L, -1L)))
    intercept[IllegalArgumentException] {
      graft.functions.Profiling.scd2(
        log.withColumnRenamed("attr", "valid_from"), "u", Seq("t"), Seq("valid_from"))
    }
  }

  test("scd2 plan: one key-keyed shuffle, both window passes and no join") {
    import spark.implicits._
    val log = Seq(("u", 1L, 1L, "A")).toDF("u", "t", "seq", "attr")
    val plan = graft.functions.Profiling.scd2(log, "u", Seq("t", "seq"), Seq("attr"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"))
    assert(plan.split("Exchange").length - 1 <= 1)
  }

  test("clearOrphanedLocation never deletes a live default-db table from a non-default database") {
    import graft.sources.ManagedTables
    import spark.implicits._
    try {
      Seq((1L, "keep")).toDF("id", "v").write.mode("overwrite")
        .saveAsTable("graft_mt_live")
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_mt_other")
      spark.catalog.setCurrentDatabase("graft_mt_other")
      // from here, tableExists("graft_mt_live") unqualified is FALSE —
      // the pre-fix check would have rm -rf'd the registered data
      ManagedTables.clearOrphanedLocation(spark, "graft_mt_live")
      spark.catalog.setCurrentDatabase("default")
      assert(spark.table("graft_mt_live").collect().map(_.getString(1)).toSeq ==
        Seq("keep"))
    } finally {
      spark.catalog.setCurrentDatabase("default")
      spark.sql("DROP TABLE IF EXISTS graft_mt_live")
      spark.sql("DROP DATABASE IF EXISTS graft_mt_other")
    }
  }

  test("clearOrphanedLocation cleans an orphaned dir even when a temp view shadows the name") {
    import graft.sources.ManagedTables
    import spark.implicits._
    try {
      // fabricate an orphan: a directory at the default-db location with
      // no catalog entry (a previous JVM's managed table)
      val dbLoc = spark.catalog.getDatabase("default").locationUri
      val p = new org.apache.hadoop.fs.Path(dbLoc, "graft_mt_orphan")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.mkdirs(p)
      // an unqualified tableExists would see the temp view and skip the
      // cleanup, leaving saveAsTable to die on LOCATION_ALREADY_EXISTS
      Seq((1L, "view")).toDF("id", "v").createOrReplaceTempView("graft_mt_orphan")
      ManagedTables.clearOrphanedLocation(spark, "graft_mt_orphan")
      assert(!fs.exists(p), "orphaned location must be cleared")
      Seq((2L, "tbl")).toDF("id", "v").write.saveAsTable("graft_mt_orphan")
      assert(spark.table("default.graft_mt_orphan").count() == 1)
    } finally {
      spark.catalog.dropTempView("graft_mt_orphan")
      spark.sql("DROP TABLE IF EXISTS default.graft_mt_orphan")
    }
  }

  test("Scans.withMinParallelism: no-op at/above the floor, repartitions below, rows unchanged") {
    import spark.implicits._
    import graft.sources.Scans
    val df = (1 to 100).toDF("x").repartition(8)
    // at/above the floor: the SAME DataFrame comes back — no exchange added
    assert(Scans.withMinParallelism(df, 8) eq df)
    assert(Scans.withMinParallelism(df, 2) eq df)
    // below: partition count rises to the floor, row multiset unchanged
    val narrow = df.coalesce(1)
    val widened = Scans.withMinParallelism(narrow, 6)
    assert(widened.rdd.getNumPartitions == 6)
    assert(widened.collect().map(_.getInt(0)).sorted.toSeq == (1 to 100))
    // parallelized targets the session default parallelism
    val p = Scans.parallelized(narrow)
    assert(p.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    intercept[IllegalArgumentException] { Scans.withMinParallelism(df, 0) }

    // a small single-file parquet scan (with filter/projection on top)
    // under-partitions -> the repair fires; the estimate reads the LOGICAL
    // plan only, so no physical plan exists before the caller runs it
    withTempDir("graft_scans") { tmp =>
      (1 to 1000).toDF("x").coalesce(1).write.mode("overwrite").parquet(tmp)
      val scan = spark.read.parquet(tmp).where(col("x") > 10).select("x")
      assert(Scans.estimatedMapParallelism(scan) < 32)
      val fixed = Scans.withMinParallelism(scan, 32)
      assert(fixed.rdd.getNumPartitions == 32)
      assert(fixed.count() == 990)
    }
  }

  test("api pipeline verbs: splitByHash, nearDupPairs, planAudit delegate correctly") {
    import spark.implicits._
    import graft.api._
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "something else entirely here")).toDF("doc_id", "text")
    val split = docs.splitByHash("doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.columns.contains("split") && split.count() == 3)
    val pairs = docs.nearDupPairs("text", "doc_id")
    assert(pairs.select("id_a", "id_b").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(docs.planAudit.scaleSafe())
  }
}
