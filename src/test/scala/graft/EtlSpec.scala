package graft

import graft.etl.Mapping
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class EtlSpec extends SparkSpec {
  import spark.implicits._

  test("applyMapping renames and casts in one projection") {
    val out = Mapping.applyMapping(Tables.orders(spark, sf), Seq(
      ("o_orderkey", "orderkey", "string"),
      ("o_totalprice", "total", "double")))
    assert(out.schema === StructType(Seq(
      StructField("orderkey", StringType),
      StructField("total", DoubleType))))
    assert(out.count() === Tables.orders(spark, sf).count())
  }

  test("resolveChoice nulls out uncastable values instead of failing") {
    val df = Seq(("1", "ok"), ("x", "bad"), ("3", "ok")).toDF("v", "tag")
    val out = Mapping.resolveChoice(df, Seq(("v", "v_long", "bigint")))
    val got = out.select("v_long").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSet === Set(Some(1L), None, Some(3L)))
  }

  test("resolveChoiceStruct fills the first matching slot, nulls the rest") {
    val df = Seq(("a", "42"), ("b", "abc"), ("c", "7.5")).toDF("id", "v")
    val out = Mapping.resolveChoiceStruct(df,
      Seq("v" -> Seq("bigint", "double", "string")))
    assert(out.schema("v").dataType === StructType(Seq(
      StructField("bigint", LongType),
      StructField("double", DoubleType),
      StructField("string", StringType))))
    val got = out.select("id", "v.bigint", "v.double", "v.string").collect()
      .map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(got("a") === ((Some(42L), None, None)))        // int wins first
    assert(got("b") === ((None, None, Some("abc"))))      // only string parses
    assert(got("c") === ((None, Some(7.5), None)))        // double beats string
  }

  test("dropNullFields drops only all-null columns") {
    val df = Seq((1, Option.empty[String], "a"), (2, None, "b"))
      .toDF("id", "allnull", "kept")
    val out = Mapping.dropNullFields(df)
    assert(out.columns.toSeq === Seq("id", "kept"))
  }

  test("canonicalize unions sources with origin tags") {
    val a = Seq(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      .toDF("event_ts")
    val b = Seq(java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))
      .toDF("event_ts")
    val out = Mapping.canonicalize(Seq("a" -> a, "b" -> b))
    assert(out.columns.toSeq === Seq("src", "event_ts"))
    assert(out.select("src").as[String].collect().sorted.toSeq === Seq("a", "b"))
  }

  test("dedupRows removes exact duplicates on the projection") {
    val df = Seq((1, "x"), (1, "x"), (2, "y")).toDF("k", "v")
    assert(Mapping.dedupRows(df, Seq("k", "v")).count() === 2)
  }

  test("expectations count violations per rule; null predicate = violation") {
    val df = Seq(
      (Some(5), Some("a")),   // passes both
      (Some(-1), Some("a")),  // fails positive
      (None, Some("b")),      // null value: fails positive (unknown != pass)
      (Some(3), None)         // null key: fails key_present
    ).toDF("v", "k")
    val out = Mapping.expectations(df, Seq(
        ("key_present", col("k").isNotNull),
        ("positive", col("v") > 0)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out === Map(
      "key_present" -> ((1L, 0.25)),
      "positive" -> ((2L, 0.5))))
    // rule names are literals, not parsed SQL: quotes/backticks and
    // internal-alias collisions must pass through untouched
    val tricky = Mapping.expectations(df, Seq(
        ("it's `quoted`", col("v") > 0), ("__total", col("k").isNotNull)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tricky === Map("it's `quoted`" -> 2L, "__total" -> 1L))
  }

  test("fkCheck counts orphans per relationship; null FKs are absence") {
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), None).toDF("fk")
    val out = Mapping.fkCheck(Seq(("c->p", child, "fk", parent, "pk")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // 4 child rows; one orphan (9); the null FK is not an orphan
    assert(out.toSeq === Seq(("c->p", 4L, 1L, 0.25)))
  }

  test("melt inverts a wide frame to long without losing cells") {
    val wide = Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("k", "a", "b")
    val long = Mapping.melt(wide, ids = Seq("k"), values = Seq("a", "b"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(long === Set((1L, "a", 10L), (1L, "b", 20L),
      (2L, "a", 30L), (2L, "b", 40L)))
  }

  test("applyChanges: upsert/delete with last-change-wins per key") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (2L, "b2", "U", 1L),           // update
      (3L, "c2", "U", 1L),           // update...
      (3L, "ignored", "D", 2L),      // ...then delete: delete wins
      (4L, "d", "U", 1L),            // insert
      (4L, "d2", "U", 2L)            // two upserts: latest wins
    ).toDF("k", "v", "op", "seq")
    val out = Mapping.applyChanges(base, changes,
        keys = Seq("k"), ord = Seq("seq"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "a", 2L -> "b2", 4L -> "d2"))
    // a NULL op is "anything else" → upsert, never a silent delete
    // (a null-killed filter would drop the key entirely: its key is
    // already excluded from the untouched side by the anti join)
    val nullOp = Seq((1L, "a2", null: String, 1L)).toDF("k", "v", "op", "seq")
    val out2 = Mapping.applyChanges(base, nullOp,
        keys = Seq("k"), ord = Seq("seq"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2 === Map(1L -> "a2", 2L -> "b", 3L -> "c"))
  }

  test("scd2: versions collapse no-op changes, intervals tile the timeline") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val log = Seq(
      // user 1: gold → gold (no-op, collapses) → silver → gold
      (1L, "gold", ts(0), 10L), (1L, "gold", ts(1), 11L),
      (1L, "silver", ts(2), 12L), (1L, "gold", ts(3), 13L),
      // user 2: null → null (no-op) → bronze: null-safe compare, and
      // the FIRST record survives even with a null attribute
      (2L, null, ts(0), 20L), (2L, null, ts(1), 21L),
      (2L, "bronze", ts(2), 22L)
    ).toDF("user_id", "tier", "ts", "change_id")
    val out = Mapping.scd2(log, keys = Seq("user_id"), attrs = Seq("tier"),
        ts = "ts", tie = Seq("change_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getBoolean(4)))
    assert(out.toSeq === Seq(
      (1L, "gold", ts(0), ts(2), false),
      (1L, "silver", ts(2), ts(3), false),
      (1L, "gold", ts(3), null, true),
      (2L, null, ts(0), ts(2), false),
      (2L, "bronze", ts(2), null, true)))
    // interval invariant: per user, valid_to chains to the next
    // valid_from and exactly one current row exists
    out.groupBy(_._1).foreach { case (_, vs) =>
      val sorted = vs.sortBy(_._3.getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 === b._3)
        case _ =>
      }
      assert(vs.count(_._5) === 1)
      assert(vs.last._4 === null)
    }
  }

  test("assignIds: dense 0..n-1 in key order, invariant to input layout") {
    import spark.implicits._
    val keys = Seq(907L, 3L, 512L, 44L, 108L, 2L, 777L, 61L)
    val df = keys.toDF("k")
    def ids(in: org.apache.spark.sql.DataFrame) =
      graft.etl.Mapping.assignIds(in, "k").collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("seq_id"))).toMap
    val out = ids(df)
    // dense rank order = sorted position
    val expected = keys.sorted.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap
    assert(out === expected)
    // a different physical layout must not move a single id
    assert(ids(df.repartition(7)) === expected)
  }

  test("assignIds never runs a partition-less window over the data") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => i * 7 % 501).distinct.toDF("k")
    val plan = graft.etl.Mapping.assignIds(docs, "k")
      .queryExecution.executedPlan.toString
    val specs = "windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(plan).map(_.group(1).trim).toSeq
    assert(specs.nonEmpty, plan)
    // a spec headed by the raw key means the whole table sorted in
    // one task — the exact shape this operator exists to avoid; the
    // only allowed global window is the per-partition offset one
    specs.foreach { first =>
      assert(!first.startsWith("k#") && !first.startsWith("k "),
        s"table-wide partition-less window (spec head '$first'):\n$plan")
    }
    assert(specs.exists(_.startsWith("__pid")), specs.mkString(", "))
  }

  test("reference e2e: legacy column dropped, curated schema is the " +
      "canonical one, and single-type consumption prunes partitions") {
    // the chain body over a test-owned working dir, so the curated
    // sink can be inspected before the dir is deleted
    val dir = graft.TempDirs.create("etl_spec_reference_")
    try {
      val out = graft.etl.ReferencePipeline.runOn(spark, sf, dir.toString)
      assert(out.columns.toSeq ===
        Seq("day", "clickview", "txn", "err", "amount_sum"))
      val rows = out.collect()
      assert(rows.nonEmpty)
      // total pivot count equals the staged event count — no source
      // lost rows through the CSV → ETL → parquet chain
      val total = rows.map(r => r.getLong(1) + r.getLong(2) + r.getLong(3)).sum
      assert(total === Tables.events(spark, sf).count())
      // the curated table's schema: the all-null legacy_code column must
      // be gone (DropNullFields fired in every source branch)
      val curated = graft.sources.Sources.readPartitioned(spark,
        s"$dir/curated")
      assert(curated.columns.toSeq.sorted ===
        Seq("amount", "event_id", "ts", "type", "user_id"))
      // downstream per-source consumption prunes on the partition tag
      val one = curated.filter(col("type") === "txn")
      one.collect()
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters:") &&
        "PartitionFilters: \\[[^\\]]*type".r.findFirstIn(plan).isDefined, plan)
    } finally graft.TempDirs.delete(dir)
  }

  test("expectations edges: empty rule list refuses, empty frame reports zeros") {
    intercept[IllegalArgumentException] {
      Mapping.expectations(Seq((1, "a")).toDF("v", "k"), Seq.empty)
    }
    // an empty input frame is a defined edge — 0 violations at rate
    // 0.0 per rule, never null counts or a 0/0 rate
    val empty = Seq.empty[(Option[Int], Option[String])].toDF("v", "k")
    val out = Mapping.expectations(empty, Seq(
        ("key_present", col("k").isNotNull), ("positive", col("v") > 0)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out === Map(
      "key_present" -> ((0L, 0.0)), "positive" -> ((0L, 0.0))))
  }

  test("imputeMean: nulls fill with the group mean, all-null groups stay") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("b", Some(10.0)),
      ("c", None), ("c", None)  // no observed values at all
    ).toDF("k", "value")
    val out = Mapping.imputeMean(df, "k", "value").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getDouble(1),
        r.getBoolean(2)))
    // group a's mean of (1, 3) = 2 fills its null; originals untouched
    assert(out.count { case (k, v, imp) => k == "a" && v == 2.0 && imp } === 1)
    assert(out.count { case (k, v, imp) => k == "a" && !imp } === 2)
    assert(out.filter(_._1 == "b").toSeq === Seq(("b", 10.0, false)))
    // honest null: a group with nothing observed cannot be repaired
    assert(out.filter(_._1 == "c").forall { case (_, v, imp) =>
      v == null && imp })
  }

  test("erasure cascade: the fixture's two-hop delete counts exactly") {
    import spark.implicits._
    val subjects = (1L to 4L).toDF("c_custkey")
    val deleted = Seq(2L).toDF("c_custkey")
    // customer 2 owns orders 20, 21; customer 3 owns order 30
    val orders = Seq((20L, 2L), (21L, 2L), (30L, 3L))
      .toDF("o_orderkey", "o_custkey")
    // order 20 → 2 items, 21 → 1, 30 → 2
    val lineitem = Seq((20L, 1), (20L, 2), (21L, 1), (30L, 1), (30L, 2))
      .toDF("l_orderkey", "l_linenumber")
    val rows = graft.etl.Mapping
      .erasureCascade(subjects, orders, lineitem, deleted).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rows("customer") === ((4L, 1L, 3L, 0.25)))
    assert(rows("orders") === ((3L, 2L, 1L, 0.6667)))
    assert(rows("lineitem") === ((5L, 3L, 2L, 0.6)))
  }

  test("pseudonymize: tokens are sha2 hex, deterministic, and joins survive") {
    val cust = Tables.customer(spark, sf)
    val ord = Tables.orders(spark, sf)
    val pc = Mapping.pseudonymize(cust, Seq("c_custkey"), "pepper")
    val po = Mapping.pseudonymize(ord, Seq("o_custkey"), "pepper")
    // token shape: 64 lowercase hex chars, never the raw key
    val toks = pc.select(col("c_custkey")).limit(20).collect().map(_.getString(0))
    assert(toks.forall(_.matches("[0-9a-f]{64}")))
    // deterministic: same key → same token across frames and runs
    val joinedTok = pc.join(po, pc("c_custkey") === po("o_custkey")).count()
    val joinedRaw = cust.join(ord, cust("c_custkey") === ord("o_custkey")).count()
    assert(joinedTok === joinedRaw) // referential integrity preserved
    // different pepper → disjoint token space (no accidental linkage)
    val other = Mapping.pseudonymize(cust, Seq("c_custkey"), "other")
    assert(pc.join(other, pc("c_custkey") === other("c_custkey")).count() === 0)
  }

  test("diffSnapshots classifies keys and counts per-column drift null-safely") {
    val oldDf = Seq[(Long, java.lang.Double, String)](
      (1L, 10.0, "A"),   // unchanged
      (2L, 20.0, "B"),   // price changes
      (3L, 30.0, "C"),   // removed (absent from new)
      (5L, null, "E"),   // null → null: unchanged
      (6L, 60.0, "F")    // value → null: changed
    ).toDF("k", "price", "status")
    val newDf = Seq[(Long, java.lang.Double, String)](
      (1L, 10.0, "A"),
      (2L, 21.0, "B"),
      (4L, 40.0, "D"),   // added
      (5L, null, "E"),
      (6L, null, "F")
    ).toDF("k", "price", "status")
    val out = Mapping.diffSnapshots(oldDf, newDf, "k",
        Seq("price", "status")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("added" -> 1L, "removed" -> 1L, "changed" -> 2L,
      "unchanged" -> 2L, "changed:price" -> 2L, "changed:status" -> 0L))
  }

  test("flattenJson lifts scalars, explodes items, drops corrupt rows") {
    val df = Seq(
      (1L, """{"a":7,"items":[{"sku":"x","qty":2},{"sku":"y","qty":3}]}"""),
      (2L, """{"a":8,"items":[{"sku":"z","qty":5}]}"""),
      (3L, """not json at all""")
    ).toDF("id", "payload")
    val out = Mapping.flattenJson(df, "payload",
      "a BIGINT, items ARRAY<STRUCT<sku: STRING, qty: BIGINT>>", "items")
      .orderBy(col("id"), col("item_idx")).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
      r.getString(3), r.getLong(4))).toSeq === Seq(
      (1L, 7L, 0, "x", 2L), (1L, 7L, 1, "y", 3L), (2L, 8L, 0, "z", 5L)))
  }

  test("generalizeK picks the lowest level within the suppression budget") {
    // 30 rows: cat A values cluster in [0,100) tightly (10 distinct
    // values × 3 each), so level 0 (unit buckets) suppresses all 30
    // (every class size 3 < k=6) but level 1 (hundreds) puts all 30
    // in one bucket — level 1 passes a 0.2 budget, level 0 doesn't
    val rows = (0 until 30).map(i => ("A", (i % 10) * 10.0 + 0.5))
    val out = Mapping.generalizeK(rows.toDF("cat", "bal"), "cat", "bal",
      k = 6L, maxSuppress = 0.2).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getInt(0) === 1)) // level 1 chosen, not 0 or 2+
    assert(out.map(_.getLong(3)).sum === 30L) // nothing suppressed at 1
    assert(out.forall(_.getDouble(4) === 0.0))
    // tighten the budget below level 1's reach: plant a straggler
    // class that level 1 must suppress but a 0-budget rejects
    val rows2 = rows ++ Seq(("B", 5000.0)) // lone B row: size 1 < k
    val out2 = Mapping.generalizeK(rows2.toDF("cat", "bal"), "cat", "bal",
      k = 6L, maxSuppress = 0.1).collect()
    // level 1: sup = 1/31 ≈ 0.032 ≤ 0.1 → still level 1, B suppressed
    assert(out2.forall(_.getInt(0) === 1))
    assert(out2.map(_.getString(1)).distinct.toSeq === Seq("A"))
    assert(out2.forall(r => math.abs(r.getDouble(4) - 0.0323) < 1e-9))
  }

  test("incrementalAggMerge: overlap adds, one-sided keys pass " +
       "through, merged equals a from-scratch recompute") {
    import spark.implicits._
    def mk(rows: Seq[(String, Long, Long, String)]) =
      rows.toDF("event_type", "ed", "n", "s")
        .select(col("event_type"), col("ed"), col("n"),
          col("s").cast("decimal(14,4)").as("sv"))
    // base: (a,1), (a,2), (b,1); delta: (a,2) overlap, (c,9) new
    val base = mk(Seq(("a", 1L, 3L, "30"), ("a", 2L, 2L, "5.5"),
      ("b", 1L, 1L, "7")))
    val delta = mk(Seq(("a", 2L, 4L, "4.5"), ("c", 9L, 2L, "1")))
    val out = Mapping.incrementalAggMerge(base, delta).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDecimal(3).toPlainString))).toMap
    assert(out.size === 4)
    assert(out(("a", 2L))._1 === 6L)                  // 2 + 4
    assert(BigDecimal(out(("a", 2L))._2) === BigDecimal(10))  // 5.5+4.5
    assert(out(("a", 1L)) === ((3L, "30.0000")))      // base-only
    assert(out(("c", 9L))._1 === 2L)                  // delta-only
    // and the registry face equals a from-scratch recompute exactly
    // (sv is the 4dp double face over the exact BIGINT micro sum)
    val merged = Mapping.incrementalAgg(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3))))
    val scratch = Tables.events(spark, sf)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("ed"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("value") * 10000).cast("long")) / 10000.0, 4)
          .as("sv"))
      .orderBy(col("event_type"), col("ed")).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3))))
    assert(merged.toSeq === scratch.toSeq)
  }

  test("maskFormat: shape survives (length, classes, punctuation), " +
       "masking is deterministic and actually rewrites") {
    import spark.implicits._
    import graft.etl.Mapping
    val df = Seq((1L, "Customer#000000001"), (2L, "aA0-zZ9!"),
      (3L, "")).toDF("id", "name")
    val out = Mapping.maskFormat(df, Seq("name"), "pep")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val orig = Map(1L -> "Customer#000000001", 2L -> "aA0-zZ9!", 3L -> "")
    out.foreach { case (id, masked) =>
      val o = orig(id)
      assert(masked.length === o.length)
      masked.zip(o).foreach { case (m, c) =>
        if (c.isDigit) assert(m.isDigit, s"$id: $c -> $m")
        else if (c.isLower) assert(m.isLower)
        else if (c.isUpper) assert(m.isUpper)
        else assert(m === c, "punctuation must stay put")
      }
    }
    assert(out(1L) !== orig(1L), "mask must rewrite something")
    val again = Mapping.maskFormat(df, Seq("name"), "pep")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again === out)
    val other = Mapping.maskFormat(df, Seq("name"), "qqq")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(other(1L) !== out(1L), "pepper must matter")
  }

  test("daily-pipeline e2e: the ingested stage holds EXACTLY the raw " +
       "delta (double-ingest would double it), the merged aggregate " +
       "covers every (type, day), and the audit schema is stable") {
    import org.apache.spark.sql.functions._
    val rows = graft.etl.DailyPipeline.dailyE2e(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.get(2), r.getString(3))).toMap
    assert(rows.keySet === Set("ingested_delta", "daily_agg", "dedup_pairs"))
    // the bookmark proof in rows: the ingested checksum's row count
    // equals the raw last-two-days count — the second AvailableNow
    // tick drained nothing, and nothing was lost in the file hop
    val staged = Tables.events(spark, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("ed"))
    val cut = staged.agg(max(col("ed")) - 1).collect()(0).getLong(0)
    val rawDelta = staged.filter(col("ed") >= cut).count()
    assert(rows("ingested_delta")._1 === rawDelta)
    // the merged rollup has one row per observed (event_type, day)
    val aggKeys = Tables.events(spark, sf)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("ed"))
      .distinct().count()
    assert(rows("daily_agg")._1 === aggKeys)
    // signatures are present and rendered (sum_sig is a decimal string)
    rows.values.foreach { case (n, xor, sum) =>
      assert(n > 0L && xor != null && sum.matches("-?[0-9]+"))
    }
  }
}
