package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ETL-normalization operators — the capabilities of the reference's
  * Glue DynamicFrame pipeline (etl/2019reinvent_green.py:29-53:
  * ApplyMapping → ResolveChoice → DropNullFields → lit-tag → sink),
  * re-expressed as pure DataFrame transforms so Catalyst sees
  * through them (casts/renames collapse into the scan projection).
  */
object Mapping {

  /** ApplyMapping: (source column, target name, target type) triples,
    * applied as a single projection — column pruning reaches the
    * scan, unlike the row-wise DynamicFrame mapper it replaces. */
  def applyMapping(df: DataFrame, mappings: Seq[(String, String, String)]): DataFrame =
    df.select(mappings.map { case (src, dst, dt) =>
      col(src).cast(dt).as(dst)
    }: _*)

  /** ResolveChoice ("cast:type" semantics): values that cannot be
    * cast become null instead of failing the job (Spark 4 runs ANSI
    * mode, so the lenient behavior must be opted into via try_cast). */
  def resolveChoice(df: DataFrame, casts: Seq[(String, String, String)]): DataFrame = {
    val resolved = casts.map { case (src, dst, dt) =>
      expr(s"try_cast($src AS $dt)").as(dst)
    }
    val untouched = df.columns.filterNot(c => casts.exists(_._1 == c)).map(col)
    df.select(untouched.toIndexedSeq ++ resolved: _*)
  }

  /** ResolveChoice ("make_struct" semantics): each listed column is
    * replaced by a struct with one slot per candidate type, the value
    * landing in the first slot whose parse succeeds and the remaining
    * slots null — the reference's ambiguous-type resolution
    * (ResolveChoice choice="make_struct", etl/2019reinvent_green.py:34),
    * expressed as a pure projection so it still collapses into the
    * scan. Slot names are the type names, mirroring DynamicFrame's
    * choice-struct shape. */
  def resolveChoiceStruct(df: DataFrame,
                          choices: Seq[(String, Seq[String])]): DataFrame = {
    val resolved = choices.map { case (src, types) =>
      val slots = types.zipWithIndex.map { case (dt, i) =>
        val tried = expr(s"try_cast(`$src` AS $dt)")
        val firstMatch = types.take(i).foldLeft(tried.isNotNull) {
          (cond, earlier) => cond && expr(s"try_cast(`$src` AS $earlier)").isNull
        }
        when(firstMatch, tried).as(dt)
      }
      struct(slots: _*).as(src)
    }
    val untouched = df.columns.filterNot(c => choices.exists(_._1 == c)).map(col)
    df.select(untouched.toIndexedSeq ++ resolved: _*)
  }

  /** DropNullFields: drop columns whose values are ALL null. One
    * distributed aggregate pass computes every column's non-null
    * count; only the single summary row reaches the driver. */
  def dropNullFields(df: DataFrame): DataFrame = {
    val counts = df.select(df.columns.toIndexedSeq.map(c =>
      count(col(c)).as(c)): _*).first()
    val keep = df.columns.zipWithIndex.collect {
      case (c, i) if counts.getLong(i) > 0 => col(c)
    }
    df.select(keep.toIndexedSeq: _*)
  }

  /** Canonicalize: align heterogeneous sources onto one schema and
    * tag each row with its origin (the reference's lit("green") /
    * lit("yellow") / lit("fhv") union, 2019reinvent_green.py:44). */
  def canonicalize(sources: Seq[(String, DataFrame)]): DataFrame =
    sources.map { case (tag, df) =>
      df.withColumn("src", lit(tag)).select(col("src"), col("event_ts"))
    }.reduce(_.union(_))

  /** Exact duplicate-row removal (DISTINCT on the projection). */
  def dedupRows(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct()

  /** SCD2 (slowly-changing-dimension type 2) reconstruction from a
    * change log: per key, order the records, COLLAPSE consecutive
    * records whose tracked attributes did not change (no-op writes —
    * ubiquitous in CDC feeds — must not open spurious versions), and
    * emit one row per surviving version with `valid_from` (its
    * timestamp), `valid_to` (the next version's timestamp, exclusive;
    * null while current) and `is_current`. The ETL step that turns an
    * append-only event/CDC stream into the dimension table every
    * as-of join downstream expects.
    *
    * Attribute comparison is NULL-SAFE (`<=>`): a null attribute
    * equal to the previous null is "no change", and the key's first
    * record always survives (lag is null, never null-safe-equal to a
    * value... unless the value is itself null and so is the previous
    * row's — which cannot happen for a first record since there is no
    * previous row; `lag` over an absent row yields null and
    * `null <=> null` would be true, so the first record is kept by an
    * explicit row-number guard, not by the attribute comparison).
    * `tie` columns break same-timestamp ordering deterministically.
    *
    * Scale: two windows over the SAME (key, order) partitioning — one
    * shuffle, the second window reuses the sort. */
  def scd2(df: DataFrame, keys: Seq[String], attrs: Seq[String],
           ts: String, tie: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty && attrs.nonEmpty, "scd2 needs keys and attrs")
    import org.apache.spark.sql.expressions.Window
    val ord = col(ts) +: tie.map(col)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val changed = attrs.map(a => !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _)
    val kept = df
      .withColumn("__first", row_number().over(w) === 1)
      .withColumn("__chg", col("__first") || changed)
      .filter(col("__chg"))
    kept
      .withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keys ++ attrs).map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current")): _*)
      .orderBy(keys.map(col) :+ col("valid_from"): _*)
  }

  /** Referential-integrity validation — the relationship-level
    * quality gate [[expectations]]' row-level rules can't express:
    * per declared (child, fk) → (parent, pk) relationship, count the
    * child rows whose non-null foreign key has no parent. Each
    * relationship is one anti join (the parent side projects to its
    * key column only, so AQE broadcasts every realistically-sized
    * dimension) plus single-row aggregates; a NULL foreign key means
    * "no parent", which is absence, not orphanhood. */
  def fkCheck(rels: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(rels.nonEmpty, "fkCheck needs at least one relationship")
    rels.map { case (name, child, fk, parent, pk) =>
      val orphans = child.filter(col(fk).isNotNull)
        .join(parent.select(col(pk)), col(fk) === col(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans)
        .select(lit(name).as("relationship"), col("n_child"), col("n_orphans"),
          round(when(col("n_child") === 0, lit(0.0))
            .otherwise(col("n_orphans").cast("double") / col("n_child")), 4)
            .as("orphan_rate"))
    }.reduce(_ union _)
  }

  /** Unpivot/melt — wide → long, the inverse of pivot and the
    * normalization step every wide export (spreadsheet, sensor matrix,
    * per-category columns) needs before joining or aggregating.
    * Spark's native `unpivot` keeps this a zero-shuffle projection
    * (each input row expands to |values| output rows map-side; no
    * exchange, no UNION-of-scans re-reading the source per column). */
  def melt(df: DataFrame, ids: Seq[String], values: Seq[String],
           varName: String = "name", valueName: String = "value"): DataFrame =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray,
      varName, valueName)

  /** MERGE/upsert — apply a CDC change batch to a snapshot without a
    * table format: `changes` carries the base's columns plus an op
    * column ('D' deletes the key; anything else upserts) and ordering
    * columns; per key only the LATEST change (by `ord`, descending,
    * row_number-deterministic) applies — a batch that both updates
    * and then deletes a key must delete it. Keys untouched by any
    * change pass through via an anti join.
    *
    * Scale: one window shuffle over the CHANGE BATCH (typically tiny
    * vs the snapshot) + one anti join and one union on the base —
    * with a small batch AQE broadcasts the anti join, so the snapshot
    * is never shuffled; this is the no-table-format core of what
    * Delta/Iceberg MERGE INTO executes. */
  def applyChanges(base: DataFrame, changes: DataFrame, keys: Seq[String],
                   opCol: String = "op", ord: Seq[String]): DataFrame = {
    require(keys.nonEmpty && ord.nonEmpty, "applyChanges needs keys and ord")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ord.map(c => col(c).desc): _*)
    val latest = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val dataCols = base.columns.toSeq
    val untouched = base.join(latest.select(keys.map(col): _*), keys, "left_anti")
    // null-safe: a change row with a NULL op must upsert ("anything
    // else upserts"), not null-kill the filter and silently DELETE
    // the key (its key is already gone from `untouched`)
    val upserts = latest.filter(!(col(opCol) <=> lit("D")))
      .select(dataCols.map(col): _*)
    untouched.union(upserts)
  }

  /** The events-table rule set shared by the batch publish gate
    * (etl_expectations adds user_present) and the streaming monitor
    * (stream_expectations) — ONE definition, so retuning a threshold
    * cannot silently diverge the two faces. */
  def eventQualityRules: Seq[(String, Column)] = Seq(
    ("ts_in_range", col("ts") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-01-15 00:00:00").cast("timestamp")),
    ("type_known", col("event_type")
      .isin("click", "view", "purchase", "signup", "error")),
    ("value_in_range", col("value") >= 0 && col("value") <= 250))

  /** Group-mean imputation — the missing-data repair step before
    * feature extraction: nulls in `value` fill with their group's
    * mean of the NON-null values, and every row carries a
    * `was_imputed` flag so downstream consumers can weight or audit
    * repaired rows (silent imputation is how data bugs hide). The
    * mean quantizes each value to 4dp DECIMAL before summing
    * (order-independent, the emb_centroids contract) and rounds to
    * 4dp — the fill is a reproducible constant per group, not a
    * float that drifts with partitioning. A group that is ALL null
    * has no mean; its rows stay null (the honest answer — flag and
    * route, don't invent data). One aggregation + a broadcast-sized
    * fill join: group count is the cardinality of `key`, tiny
    * relative to rows at any scale. */
  def imputeMean(df: DataFrame, key: String, value: String): DataFrame = {
    val means = df.filter(col(value).isNotNull)
      .groupBy(col(key))
      .agg((sum(round(col(value), 4).cast("decimal(20,10)")).cast("double") /
        count(lit(1))).as("__m"))
      .select(col(key), round(col("__m"), 4).as("__fill"))
    df.join(broadcast(means), Seq(key), "left")
      .withColumn("was_imputed", col(value).isNull)
      .withColumn(value, coalesce(col(value), col("__fill")))
      .drop("__fill")
  }

  /** Data-quality expectations — the validation gate an ETL job runs
    * before publishing a dataset: named boolean rules evaluated over
    * every row in ONE aggregate pass (each rule a conditional count,
    * map-side combinable — no per-rule scans, no driver loop),
    * reported as (rule, n_violations, violation_rate). A row
    * violates a rule when the predicate is NOT satisfied; null
    * predicate results count as violations (an unknown is not a
    * pass), which is what makes not-null rules expressible as plain
    * predicates. */
  def expectations(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "expectations needs at least one rule")
    // aggregates carry POSITIONAL aliases and rule names enter only
    // as literals inside the typed struct/explode — never through a
    // parsed SQL string (selectExpr/stack), where a quote, backtick,
    // or a rule named like an internal alias would break or mislabel.
    // coalesce(sum, 0): on an EMPTY input frame sum is null, and a
    // quality report of "null violations over null rows" is useless —
    // the defined edge is 0 violations at rate 0.
    val aggs = rules.zipWithIndex.map { case ((_, pred), i) =>
      coalesce(sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)), lit(0L))
        .as(s"__v$i")
    }
    val one = df.agg(aggs.head, (aggs.tail :+ count(lit(1)).as("__total")): _*)
    one.select(
        explode(array(rules.zipWithIndex.map { case ((name, _), i) =>
          struct(lit(name).as("rule"), col(s"__v$i").as("n_violations"))
        }: _*)).as("r"),
        col("__total"))
      .select(col("r.rule").as("rule"),
        col("r.n_violations").as("n_violations"),
        round(when(col("__total") === 0, lit(0.0))
            .otherwise(col("r.n_violations").cast("double") / col("__total")), 4)
          .as("violation_rate"))
      .orderBy(col("rule"))
  }

  /** Deterministic dense id assignment: consecutive `seq_id` 0..n−1
    * in `orderCol` order — the surrogate-key step neither built-in
    * survives at scale honestly: `monotonically_increasing_id` is
    * neither dense nor stable across runs (partition-layout-
    * dependent), and `row_number()` over a partition-less window
    * sorts the whole table in ONE task. This is the distributed
    * prefix sum a third time (see TextOps.packOn): range-partition on
    * the key, rank within each partition, add each partition's
    * broadcast row-count offset — the only global window runs over
    * one row per partition.
    *
    * `orderCol` must be unique for run-to-run determinism: range
    * partitioning may split ties across partitions, so tied rows
    * would get unique but arbitrary ids. */
  def assignIds(df: DataFrame, orderCol: String): DataFrame =
    // shared distributed prefix sum (see graft.ops.PrefixSum for the
    // plan shape and the exchange-reuse correctness guard): the dense
    // rank is the exclusive running count of 1s
    graft.ops.PrefixSum.exclusive(df, Seq(col(orderCol)), lit(1L))
      .withColumn("seq_id", col("__cum"))
      .drop("__pid", "__cum")

  /** GDPR erasure-cascade audit — the right-to-be-forgotten dry run:
    * given a deletion list of subject keys, how many rows does each
    * table in the referential chain lose (subjects → their orders →
    * those orders' line items)? The cascade is two LEFT SEMI joins
    * chained through the foreign keys — each table is scanned once,
    * erased sets never materialize wider than their key columns, and
    * the deletion list scales with the subject count so its joins are
    * AQE-chosen (broadcast while it fits, shuffle past that — never a
    * forced hint on an SF-scaling side). Output is one audit row per
    * table: total, erased, kept, erased share. At 100 TB this is the
    * plan you run BEFORE the delete job to size the rewrite. */
  def erasureCascade(subjects: DataFrame, orders: DataFrame,
                     lineitem: DataFrame, deleted: DataFrame): DataFrame = {
    val del = deleted.select(col(deleted.columns.head).as("__id"))
    val erasedSub = subjects.join(del,
      subjects(subjects.columns.head) === del("__id"), "left_semi")
    val erasedOrd = orders.join(del, orders("o_custkey") === del("__id"),
      "left_semi")
    val erasedLi = lineitem.join(erasedOrd.select(col("o_orderkey").as("__ok")),
      lineitem("l_orderkey") === col("__ok"), "left_semi")
    def stat(name: String, total: DataFrame, erased: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("rows_total"))
        .crossJoin(erased.agg(count(lit(1)).as("rows_erased")))
        .select(lit(name).as("table_name"), col("rows_total"),
          col("rows_erased"),
          (col("rows_total") - col("rows_erased")).as("rows_kept"),
          graft.ops.ExactRatio.r4(col("rows_erased"), col("rows_total"))
            .as("erased_share"))
    stat("customer", subjects, erasedSub)
      .union(stat("orders", orders, erasedOrd))
      .union(stat("lineitem", lineitem, erasedLi))
      .orderBy(col("table_name"))
  }

  /** GDPR pseudonymization — [[erasureCascade]]'s sibling for the
    * keep-the-data case: identifying keys are replaced by
    * deterministic sha2-256 tokens of pepper:key, so the SAME key
    * pseudonymizes to the SAME token in every table and referential
    * integrity survives (joins, groupBys, and FK checks all still
    * work on tokens), while reversing a token requires the pepper.
    * Row-local (a projection — rides the scan at any scale); the one
    * property the rewrite DOES cost is layout: tokens hash-shuffle
    * any sortedness/bucketing that existed on the raw key, so
    * re-bucket ON THE TOKEN after pseudonymizing if downstream joins
    * relied on co-location (token distribution is uniform — the
    * re-bucketed layout is skew-free by construction). */
  def pseudonymize(df: DataFrame, cols: Seq[String],
                   pepper: String): DataFrame =
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c,
        sha2(concat(lit(pepper + ":"), col(c).cast("string")), 256))
    }

  /** FORMAT-PRESERVING masking — [[pseudonymize]]'s sibling for the
    * test-data / display case: a sha2 token destroys the value's
    * SHAPE (length, charset, delimiter positions), which breaks any
    * downstream parser, fixed-width schema, or UI the masked data
    * must still flow through. Here every digit rotates to a digit
    * and every letter to a same-case letter (offset = an md5-derived
    * nibble of pepper:key:position), punctuation and structure stay
    * put — "Customer#000000001" masks to something a parser still
    * accepts. Deterministic: same value+pepper masks identically
    * everywhere, so referential joins survive like pseudonymize's.
    * ONE-WAY by construction: the per-char offset is keyed on
    * md5(pepper:ORIGINAL:pos) — the plaintext itself — so the mask
    * cannot be inverted even with the pepper (use a proper keyed FPE
    * construction if round-tripping is required; this op is for
    * masked test/display data that never needs unmasking).
    * Row-local projection (a per-char
    * transform() — no UDF, no shuffle; cost is len·md5 per row, the
    * declared price of per-char keying). */
  def maskFormat(df: DataFrame, cols: Seq[String],
                 pepper: String): DataFrame = {
    val digits = split(lit("0123456789"), "")
    val lower = split(lit("abcdefghijklmnopqrstuvwxyz"), "")
    val upper = split(lit("ABCDEFGHIJKLMNOPQRSTUVWXYZ"), "")
    cols.foldLeft(df) { (acc, c) =>
      val masked = transform(sequence(lit(1), length(col(c))), i => {
        val ch = col(c).substr(i, lit(1))
        val a = ascii(ch)
        val off = conv(substring(md5(concat(lit(pepper + ":"), col(c),
          lit(":"), i.cast("string"))), 1, 1), 16, 10).cast("int")
        when(ch.between("0", "9"),
            element_at(digits, (a - 48 + off % 10) % 10 + 1))
          .when(ch.between("a", "z"),
            element_at(lower, (a - 97 + off % 26) % 26 + 1))
          .when(ch.between("A", "Z"),
            element_at(upper, (a - 65 + off % 26) % 26 + 1))
          .otherwise(ch)
      })
      acc.withColumn(c, array_join(masked, ""))
    }
  }

  /** Snapshot reconciliation — the table-diff behind every pipeline
    * regression test and backfill audit: classify each key of two
    * snapshot frames as added / removed / changed / unchanged, plus a
    * per-column changed count (which columns drifted tells you WHICH
    * upstream change did it). One keyed FULL OUTER join (the
    * q_full_outer shape — sort-merge, one shuffle per side at any
    * scale), ONE aggregation of conditional sums, and a map-side
    * struct-explode to stack the audit long — the whole diff costs
    * what the join costs. Null-safe comparisons throughout (a column
    * going null↔non-null IS a change; two nulls aren't). */
  def diffSnapshots(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
                    cols: Seq[String]): DataFrame = {
    val o = oldDf.select((keyCol +: cols).map(c => col(c).as("__o_" + c)): _*)
    val n = newDf.select((keyCol +: cols).map(c => col(c).as("__n_" + c)): _*)
    val ok = col("__o_" + keyCol)
    val nk = col("__n_" + keyCol)
    val j = o.join(n, ok === nk, "full_outer")
    val changedCol =
      (c: String) => !(col("__o_" + c) <=> col("__n_" + c))
    val anyChanged = cols.map(changedCol).reduce(_ || _)
    val both = ok.isNotNull && nk.isNotNull
    val aggCols = Seq(
      sum(when(ok.isNull, 1L).otherwise(0L)).as("added"),
      sum(when(nk.isNull, 1L).otherwise(0L)).as("removed"),
      sum(when(both && anyChanged, 1L).otherwise(0L)).as("changed"),
      sum(when(both && !anyChanged, 1L).otherwise(0L)).as("unchanged")) ++
      cols.map(c => sum(when(both && changedCol(c), 1L).otherwise(0L))
        .as("__ch_" + c))
    val one = j.agg(aggCols.head, aggCols.tail: _*)
    val pairs = Seq("added", "removed", "changed", "unchanged")
      .map(s => struct(lit(s).as("label"), col(s).as("n_rows"))) ++
      cols.map(c => struct(lit(s"changed:$c").as("label"),
        col("__ch_" + c).as("n_rows")))
    one.select(explode(array(pairs: _*)).as("kv"))
      .select(col("kv.label").as("label"), col("kv.n_rows").as("n_rows"))
      .orderBy(col("label"))
  }

  /** k-anonymity GENERALIZATION — the ACTION the q_kanonymity audit
    * drives (the audit counts violating classes; this REPAIRS them):
    * coarsen the numeric quasi-identifier up a fixed generalization
    * ladder (unit → hundreds → thousands → suppressed) and pick the
    * LOWEST level whose residual suppression — rows in classes still
    * below k, which must be dropped — stays within `maxSuppress`.
    * Generalize-then-suppress is the standard two-mechanism scheme:
    * pure generalization overshoots (one straggler class forces the
    * whole table coarse), pure suppression bleeds rows.
    *
    * Plan: the ladder is ONE map-side array-explode (the
    * q_grouping_sets expansion pattern — 4 rows per input row, never
    * 4 re-scans), one (level, cat, bucket) count, level stats and the
    * level choice are class-cardinality work, and the output is the
    * chosen level's surviving classes. Buckets derive from
    * floor()+integer division only — both engines floor doubles and
    * truncate integer quotients identically (verified), so the class
    * grid is bit-equal cross-engine. Output rows carry the chosen
    * level and its suppressed share; the choice ADAPTS to data volume
    * (more rows ⇒ finer levels pass — visible across SFs). */
  def generalizeK(df: DataFrame, catCol: String, numCol: String,
                  k: Long, maxSuppress: Double): DataFrame = {
    val base = df.select(col(catCol).as("cat"),
      floor(col(numCol)).cast("long").as("f"))
    val lev = base.select(col("cat"), explode(array(
        struct(lit(0).as("level"), col("f").as("bucket")),
        struct(lit(1).as("level"), (expr("f div 100") * 100).as("bucket")),
        struct(lit(2).as("level"), (expr("f div 1000") * 1000).as("bucket")),
        struct(lit(3).as("level"), lit(0L).as("bucket")))).as("lb"))
      .select(col("cat"), col("lb.level").as("level"),
        col("lb.bucket").as("bucket"))
    val classes = lev.groupBy(col("level"), col("cat"), col("bucket"))
      .agg(count(lit(1)).as("class_size"))
    val levStats = classes.groupBy(col("level"))
      .agg(sum(when(col("class_size") < k, col("class_size"))
        .otherwise(0L)).as("sup"),
        sum(col("class_size")).as("tot"))
    val chosen = levStats
      .filter(col("sup").cast("double") / col("tot") <= maxSuppress)
      .agg(min(col("level")).as("chosen"))
    val chosenStats = levStats.join(broadcast(chosen),
        levStats("level") === col("chosen"))
      .select(col("chosen"),
        graft.ops.ExactRatio.r4(col("sup"), col("tot"))
          .as("suppressed_share"))
    classes.join(broadcast(chosenStats),
        classes("level") === col("chosen"))
      .filter(col("class_size") >= k)
      .select(col("level"), col("cat"), col("bucket"), col("class_size"),
        col("suppressed_share"))
      .orderBy(col("cat"), col("bucket"))
  }

  /** Nested-JSON flattening — the array face of the reference's
    * ResolveChoice/struct handling (2019reinvent_green.py:33 resolves
    * scalar ambiguity; real event payloads carry ARRAYS of structs,
    * and training pipelines need them as flat rows): parse `jsonCol`
    * against a declared DDL schema, lift the scalar fields, and
    * posexplode `arrayField` into one output row per element with the
    * element's struct fields flattened alongside an `item_idx`.
    *
    * Row-local end to end — parse, lift, and explode all ride the
    * scan (zero shuffles at any scale); output volume is the true
    * element count, the same growth any downstream shuffle would pay
    * anyway. Malformed JSON parses to null (PERMISSIVE) and
    * posexplode drops the row — a corrupt line costs its row, never
    * the scan. */
  def flattenJson(df: DataFrame, jsonCol: String, ddl: String,
                  arrayField: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val schema = StructType.fromDDL(ddl)
    val elemFields = schema(arrayField).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fieldNames.toSeq
    val scalars = schema.fieldNames.toSeq.filter(_ != arrayField)
    val keep = df.columns.toSeq.filter(_ != jsonCol)
    val parsed = df.withColumn("__parsed", from_json(col(jsonCol), schema))
    val exploded = parsed.select(
      (keep.map(col) ++
        scalars.map(f => col(s"__parsed.$f").as(f)) :+
        posexplode(col(s"__parsed.$arrayField"))
          .as(Seq("item_idx", "__item"))): _*)
    exploded.select(
      ((keep ++ scalars :+ "item_idx").map(col) ++
        elemFields.map(f => col(s"__item.$f").as(f))): _*)
  }

  /** Order-independent table fingerprint — the O(scan) sibling of
    * [[diffSnapshots]]: where the diff names WHICH rows changed at
    * the cost of a keyed join, the checksum answers "did ANYTHING
    * change" for the cost of a count(*). Run it after a backfill, a
    * migration, or a format conversion; equal signatures mean equal
    * tables (up to hash collision), unequal signatures route to the
    * diff for the row-level story.
    *
    * Each row renders its declared columns canonically
    * (null-sentineled, '|'-joined — null vs empty string must not
    * collide), hashes to md5, and the first 15 hex chars become a
    * 60-bit BIGINT. Two aggregates make the signature: XOR (an
    * abelian-group fold — any row order, any partitioning, any
    * engine gives the same bits; a changed row flips its exact bit
    * pattern out and the new one in) and a DECIMAL(38,0) SUM (which
    * catches the XOR blind spot: a row duplicated an EVEN number of
    * times XORs to a no-op, but sums don't cancel). Entirely
    * map-side-combinable — the plan is a scan plus a one-row
    * aggregate at any scale. Doubles are the caller's contract: pass
    * them pre-quantized (a raw double renders differently across
    * engines; epoch-int timestamps and DECIMAL-cast amounts don't). */
  def tableChecksum(df: DataFrame, cols: Seq[Column], label: String): DataFrame = {
    val canon = concat_ws("|",
      cols.map(c => coalesce(c.cast("string"), lit("null"))): _*)
    val h = conv(substring(md5(canon), 1, 15), 16, 10).cast("long")
    df.select(h.as("h"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_sig"),
        sum(col("h").cast("decimal(38,0)")).as("sum_sig"))
      .select(lit(label).as("tbl"), col("n_rows"), col("xor_sig"),
        col("sum_sig").cast("string").as("sum_sig"))
  }

  /** INCREMENTAL aggregate maintenance — the op that makes a daily
    * 100 TB rollup affordable: merge yesterday's stored aggregate
    * with today's delta instead of rescanning the whole fact table.
    * The merge is one keyed full-outer join + coalesced monoid adds;
    * it is correct ONLY for commutative-monoid stats (counts, sums —
    * never raw distincts or percentiles: those need mergeable
    * sketches, see SketchStreams.hllVersionsBatch), which is exactly what
    * this entry PROVES: the oracle recomputes the aggregate FROM
    * SCRATCH over all rows and knows nothing about the split, so
    * hash equality is a cross-engine proof that merged ≡ recomputed.
    * The registry face derives base (days < cut) and delta in-plan
    * from one scalar split; production swaps `base` for the stored
    * table and the plan below it disappears — the merge itself never
    * touches base's fact rows. */
  def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    // value is staged as BIGINT 1e-4 micro-units (the ml_logreg_gd
    // floor-quantize posture): integer sums are exact and render
    // identically in every engine/version — a wide-DECIMAL sum column
    // is exactly the cross-checker rendering class that drifts
    // (Decimal('123.4000') vs float 123.4 through pandas)
    val staged = graft.Tables.events(s, d).select(col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("ed"),
      round(col("value") * 10000).cast("long").as("v"))
    val split = staged.agg((max(col("ed")) - 1).as("cut"))
    val st = staged.crossJoin(broadcast(split))
    incrementalAggMerge(
      aggDaily(st.filter(col("ed") < col("cut"))),
      aggDaily(st.filter(col("ed") >= col("cut"))))
      .select(col("event_type"), col("ed"), col("n"),
        round(col("sv") / 10000.0, 4).as("sv"))
      .orderBy(col("event_type"), col("ed"))
  }

  /** The daily-grain monoid aggregate both sides share (also the
    * merge grain of the daily-pipeline E2E composition,
    * [[graft.etl.DailyPipeline.dailyE2e]]). */
  private[graft] def aggDaily(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"), col("ed"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))

  /** The merge: keyed full outer + coalesced adds — O(agg rows).
    * Type-agnostic on `sv` (BIGINT micro-units or DECIMAL both work:
    * the 0L zero coerces to the column's own numeric type). */
  def incrementalAggMerge(base: DataFrame, delta: DataFrame): DataFrame =
    base.select(col("event_type"), col("ed"),
        col("n").as("n_b"), col("sv").as("sv_b"))
      .join(delta.select(col("event_type"), col("ed"),
        col("n").as("n_d"), col("sv").as("sv_d")),
        Seq("event_type", "ed"), "full_outer")
      .select(col("event_type"), col("ed"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
          .as("n"),
        (coalesce(col("sv_b"), lit(0L)) +
         coalesce(col("sv_d"), lit(0L))).as("sv"))
}
