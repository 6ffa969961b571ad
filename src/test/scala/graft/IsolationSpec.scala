package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The registry sweep: the one place tier-1 builds and runs every
  * registry entry. Each entry is built ONCE and run ONCE, and every
  * per-entry property is checked on that same frame, so no other spec
  * needs to loop over [[SparkEntry.queries]] (RegistrySpec only
  * compares its key set with `oracleSql`'s, building nothing).
  *
  * Self-contained in a FRESH session: no entry may depend on a
  * session-global side effect (a legacy-parquet conf, a cached frame,
  * a temp view) left behind by a different entry that happened to
  * run earlier. Round 5's q_union_counts crashed on its own because
  * Verify/Bench run entries in sorted order and an earlier query's
  * `Tables.events` call had already set the nanos-timestamp conf —
  * the green oracle row masked an operator a first-query user
  * couldn't run.
  *
  * Spinning up 306 actual SparkSessions would take minutes, so instead
  * each entry runs against deliberately-RESET session state: every
  * [[GraftSession.requiredConfs]] key is unset back to its Spark
  * default and temp views are dropped. Any entry that leans on
  * another entry's leftovers fails here exactly the way it would fail
  * alone in a fresh session.
  *
  * No shuffle cartesian product: a `CartesianProduct` node means two
  * distributed frames are paired row-by-row through a full shuffle,
  * the one plan shape with no excuse at any scale. Broadcast nested
  * loops over single-row stats frames (histogram bounds, split
  * thresholds, ANN query sets) are idiomatic and allowed.
  *
  * No entry may read the context-wide CacheManager either: a
  * `.cache()` registers its plan there for EVERY session on the
  * context, so another session's run of the same operator would read
  * (or clear) it. Each entry's plan must hold no `InMemoryRelation`,
  * and `src/main` reuses intermediates only through
  * `org.apache.spark.sql.graftbridge.Reuse`: `shared` (lazy; read
  * more than once by the plan being built), `roundCut` (lazy; a
  * fixed-point loop's state) and `barrier` (eager; read by the driver
  * next). It lives in Spark's `sql` package so that plans name each
  * checkpoint's intent and the operator's line, not `Reuse.scala`.
  */
class IsolationSpec extends SparkSpec {

  private def resetSessionState(): Unit = {
    GraftSession.requiredConfs.keys.foreach(spark.conf.unset)
    spark.catalog.listTables().collect()
      .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
  }

  // q_union_counts first — the round-5 repro ordering — then the rest
  // alphabetically, each against reset state.
  private val names =
    "q_union_counts" +: SparkEntry.queries.keys.toSeq.filterNot(_ == "q_union_counts").sorted

  test("src/main reuses intermediates only through Reuse") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val raw = """localCheckpoint\(|\.checkpoint\(|\.cache\(|\.persist\(""".r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${sys.props("user.dir")}")
    val reuse = root.resolve("org/apache/spark/sql/graftbridge/Reuse.scala")
    val files = scala.util.Using.resource(Files.walk(root))(_.iterator.asScala.toList)
    val hits = for {
      f <- files if f.toString.endsWith(".scala") && f != reuse
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if raw.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("reuse outside Reuse:\n", "\n", ""))
  }

  names.foreach { name =>
    test(s"$name runs against fresh session state") {
      resetSessionState()
      // noop write materializes the FULL plan (count() would let
      // Catalyst prune sorts/projects that might hide the hazard)
      val df = SparkEntry.queries(name)(spark, sf)
      df.write.mode("overwrite").format("noop").save()
      val qe = df.queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$name plans a shuffle cartesian product:\n${qe.executedPlan}")
      val cached = qe.withCachedData
        .collectWithSubqueries { case r: InMemoryRelation => r }
      assert(cached.isEmpty,
        s"$name reads the shared cache: ${cached.map(_.cacheBuilder.cachedName)}")
    }
  }
}
