package graft
package gates

import graft.ops.Ops
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The copy/sync surface: scans, windowed predicates, changed-key joins,
  * upsert/delete, the Runner end to end, committed-store reads (o4–o13),
  * exports, the sproc analog and the SQL-function path. */
object SyncGates {
  import Inputs._

  private val evCte =
    """WITH ev AS (SELECT event_id, ts, ts + (event_id % 7) * INTERVAL 1 DAY AS update_ts FROM events)"""

  /** Per-process STAGED SOURCE WAREHOUSE for `o4_runner_e2e`: the three
    * source tables the Runner reads are corpus-deterministic staging — the
    * operator the gate certifies is the Runner's classify/dispatch/copy/
    * upsert/ledger work against a fresh TARGET store, which still runs
    * fully per invocation. The source store is read-only during the run,
    * but each invocation still gets its own copy for isolation. */
  private val o4SourceWarehouse = Fixture { (s, d) =>
    val dir = Scratch.dir("graft-o4-src-base").toString
    val srcStore = new graft.store.TableStore(s, dir)
    srcStore.atomicOverwrite("events_cu", eventsWithUpdateTs(s, d))
    srcStore.atomicOverwrite("events_plain", events(s, d))
    srcStore.atomicOverwrite("customer", customer(s, d))
    dir
  }

  // ---- per-process COMMITTED STORE fixtures for the o7–o13 read gates ----
  // Each gate's commits are corpus-deterministic staging; the operator the
  // gate certifies is the READ side (time travel, stats/partition/z-order
  // pruning, snapshot isolation, generation diff, change feed), which runs
  // fresh per invocation against the cached store — READ-ONLY, so no
  // per-invocation copy is needed. The write path stays certified by the
  // first build per JVM (the driver's Verify) and by TableStoreSpec.
  private val o7Store = Fixture { (s, d) =>
    val dir = Scratch.dir("graft-o7-base").toString
    val store = new graft.store.TableStore(s, dir,
      graft.store.CommitMode.Pointer, keepGenerations = 3)
    val ord = orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus")
    store.atomicOverwrite("ord_tt", ord.filter(col("o_orderkey") % 2 === 0))
    store.atomicOverwrite("ord_tt", ord.filter(col("o_orderkey") % 2 === 1))
    store.append("ord_tt", ord.filter(col("o_orderkey") % 10 === 0))
    dir
  }

  private val o8Store = Fixture { (s, d) =>
    val dir = Scratch.dir("graft-o8-base").toString
    val store = new graft.store.TableStore(s, dir,
      graft.store.CommitMode.Pointer, statsColumns = Seq("o_totalprice"))
    store.atomicOverwriteClustered("ord_sk",
      orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
      Seq("o_totalprice"), 16)
    dir
  }

  private val o9Store = Fixture { (s, d) =>
    val dir = Scratch.dir("graft-o9-base").toString
    val store = new graft.store.TableStore(s, dir,
      graft.store.CommitMode.Pointer, statsColumns = Seq("o_totalprice"))
    val ord = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), trunc(col("o_orderdate"), "month").as("o_month"))
      .repartitionByRange(4, col("o_totalprice")).sortWithinPartitions("o_totalprice")
    store.atomicOverwrite("ord_pp", ord, partitionBy = Seq("o_month"))
    dir
  }

  /** o10's staged store plus the published snapshot id the gate reads. */
  private val o10Store = Fixture { (s, d) =>
    val dir = Scratch.dir("graft-o10-base").toString
    val store = new graft.store.TableStore(s, dir,
      graft.store.CommitMode.Pointer, keepGenerations = 3)
    val cust = customer(s, d).select("c_custkey", "c_name", "c_acctbal")
    val ord = orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
    store.atomicOverwrite("cust_s", cust)
    store.atomicOverwrite("ord_s", ord)
    val snap = store.publishSnapshot(Seq("cust_s", "ord_s"))
    // the next run is mid-flight: one table already republished
    store.atomicOverwrite("cust_s", cust.limit(3))
    (dir, snap)
  }

  private val o11Store = Fixture { (s, d) =>
    val dir = Scratch.dir("graft-o11-base").toString
    val store = new graft.store.TableStore(s, dir,
      graft.store.CommitMode.Pointer, statsColumns = Seq("o_orderkey", "o_custkey"))
    store.atomicOverwriteZOrdered("ord_z2",
      orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
      "o_orderkey", "o_custkey", 16)
    dir
  }

  private val o12Store = Fixture { (s, d) =>
    val dir = Scratch.dir("graft-o12-base").toString
    val store = new graft.store.TableStore(s, dir,
      graft.store.CommitMode.Pointer, keepGenerations = 3)
    val ord = orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus")
    store.atomicOverwrite("ord_d", ord.filter(col("o_orderkey") % 2 === 0))
    store.atomicOverwrite("ord_d",
      ord.filter(col("o_orderkey") % 2 === 1 || col("o_orderkey") % 4 === 0))
    dir
  }

  private val o12pStore = Fixture { (s, d) =>
    val dir = Scratch.dir("graft-o12p-base").toString
    val store = new graft.store.TableStore(s, dir,
      graft.store.CommitMode.Pointer, keepGenerations = 3)
    val ord = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), trunc(col("o_orderdate"), "month").as("o_month"))
    // bounded driver collect: distinct months of the fixture's ~7-year
    // order span (≤ ~84 rows of metadata)
    val months = ord.select("o_month").distinct().collect()
      .map(_.getDate(0).toLocalDate).sortBy(_.toString).toSeq
    store.overwriteDatePartitions("ord_pd", ord, "o_month", months)
    val march = java.time.LocalDate.of(1997, 3, 1)
    store.overwriteDatePartitions("ord_pd",
      ord.filter(col("o_month") === java.sql.Date.valueOf(march) &&
        col("o_orderkey") % 2 === 0),
      "o_month", Seq(march))
    dir
  }

  /** o13's staged store plus the consumer cursor (the generation published
    * before the two commits the change feed must drain). */
  private val o13Store = Fixture { (s, d) =>
    val dir = Scratch.dir("graft-o13-base").toString
    val store = new graft.store.TableStore(s, dir,
      graft.store.CommitMode.Pointer, keepGenerations = 4)
    val ord = orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus")
    store.atomicOverwrite("ord_f", ord.filter(col("o_orderkey") % 3 === 0))
    val cursor = store.generations("ord_f").head
    store.atomicOverwrite("ord_f", ord.filter(col("o_orderkey") % 3 <= 1))
    store.atomicOverwrite("ord_f", ord.filter(col("o_orderkey") % 3 >= 1))
    (dir, cursor)
  }

  val gates: Seq[Gate[_]] = Seq(
    // ---- scans / predicates / projections (§2.1, §2.2) ----
    Gate("s1_full_scan", "SELECT * FROM customer")((s, d) => customer(s, d)),
    Gate("s2_window_scan",
      s"SELECT * FROM lineitem WHERE l_shipdate BETWEEN $liStartLit AND $liEndLit")(
      (s, d) => Ops.windowScan(li(s, d), "l_shipdate", LiFrom, LiTo)),
    Gate("p1_drop_audit", "SELECT * FROM lineitem")((s, d) =>
      Ops.dropAudit(li(s, d)
        .withColumn("ID", col("l_orderkey") * 10 + col("l_linenumber"))
        .withColumn("Insert_DateTime", lit(java.time.LocalDateTime.of(2024, 1, 1, 0, 0))))),
    Gate("p2_key_projection",
      "SELECT o_orderkey FROM orders")((s, d) => orders(s, d).select("o_orderkey")),
    Gate("p4_cast_date_window",
      "SELECT * FROM orders WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1998-03-01' AND DATE '1998-03-31'")((s, d) =>
      orders(s, d).filter(Ops.datePredicate("o_orderdate", OrdFrom, OrdTo))),
    Gate("p5_key_membership",
      "SELECT * FROM orders WHERE o_orderkey IN (1, 2, 3, 5, 8, 13, 21, 34, 55, 89)")((s, d) =>
      orders(s, d).filter(col("o_orderkey").isin(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L, 55L, 89L))),
    // ---- joins / set ops: the sync pipeline semantics (§2.3, §2.7) ----
    Gate("j1_changed_keys", s"$evCte $changedKeysSql")((s, d) => {
      val ev = eventsWithUpdateTs(s, d)
      Ops.changedKeys(ev, "event_id", "ts", "update_ts", EvFrom, EvTo)
    }),
    Gate("j2_keyed_fetch",
      s"$evCte SELECT $evCols FROM events WHERE event_id IN ($changedKeysSql)")((s, d) => {
      val ev = eventsWithUpdateTs(s, d)
      val changed = Ops.changedKeys(ev, "event_id", "ts", "update_ts", EvFrom, EvTo)
      Ops.keyedFetch(events(s, d), "event_id", changed)
    }),
    Gate("a3_keyed_delete",
      s"$evCte SELECT $evCols FROM events WHERE event_id NOT IN ($changedKeysSql)")((s, d) => {
      val ev = eventsWithUpdateTs(s, d)
      val changed = Ops.changedKeys(ev, "event_id", "ts", "update_ts", EvFrom, EvTo)
      Ops.keyedDelete(events(s, d), "event_id", changed)
    }),
    Gate("a4_upsert",
      s"""$evCte,
         |changed AS ($changedKeysSql),
         |target AS (SELECT $evCols FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-09'),
         |src AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value + 1 AS value, props FROM events)
         |SELECT * FROM target WHERE event_id NOT IN (SELECT event_id FROM changed)
         |UNION ALL
         |SELECT * FROM src WHERE event_id IN (SELECT event_id FROM changed)""".stripMargin)((s, d) => {
      val ev = eventsWithUpdateTs(s, d)
      val changed = Ops.changedKeys(ev, "event_id", "ts", "update_ts", EvFrom, EvTo)
      // target = state loaded through the window end; source = rows as later modified
      val target = events(s, d).filter(to_date(col("ts")) <= lit(EvTo))
      val source = events(s, d).withColumn("value", col("value") + 1)
      Ops.upsert(target, source, "event_id", changed)
    }),
    // entry-point C end-to-end (SURVEY.md §3.3): changed-key discovery and
    // upsert composed by the library itself — target is the state as of the
    // window end, source carries the synthetic update_ts
    Gate("o2_incremental_update",
      s"""$evCte,
         |changed AS ($changedKeysSql),
         |fullv AS (SELECT event_id, CAST(e.ts AS TIMESTAMP) AS ts, user_id, event_type,
         |                 value, props,
         |                 CAST(e.ts + (event_id % 7) * INTERVAL 1 DAY AS TIMESTAMP) AS update_ts
         |            FROM events e)
         |SELECT * FROM fullv
         | WHERE CAST(ts AS DATE) <= DATE '2024-01-09'
         |   AND event_id NOT IN (SELECT event_id FROM changed)
         |UNION ALL
         |SELECT * FROM fullv WHERE event_id IN (SELECT event_id FROM changed)""".stripMargin)((s, d) => {
      val ev = eventsWithUpdateTs(s, d)
      val target = ev.filter(to_date(col("ts")) <= lit(EvTo))
      Ops.incrementalUpdate(target, ev, "event_id", "ts", "update_ts", EvFrom, EvTo)
    }),
    // incremental materialized-rollup refresh: stale daily agg keeps its
    // out-of-window days; the window's days are re-aggregated from the
    // (updated) window rows only. The oracle is the FULL re-aggregation of
    // the refreshed base — the equivalence the operator claims
    Gate("o3_agg_maintain",
      """WITH up AS (
        |  SELECT ts, event_type,
        |         CASE WHEN CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'
        |              THEN value + 1 ELSE value END AS value
        |    FROM events)
        |SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, event_type,
        |       count(*) AS n_events,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |  FROM up GROUP BY 1, 2""".stripMargin)((s, d) => {
      val ev = events(s, d)
      def dailyAgg(df: DataFrame) = df.groupBy(
          date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("total_value"))
      val stale = dailyAgg(ev)
      val freshWindow = ev.filter(Ops.datePredicate("ts", EvFrom, EvTo))
        .withColumn("value", col("value") + 1)
      Ops.maintainDailyAgg(stale, freshWindow, "day", EvFrom, EvTo)(dailyAgg)
    }),
    // the SKETCH profile's error bounds gated at the driver: approximate
    // output has no bit-stable cross-engine form, but its theoretical
    // bounds do — emit every bound VIOLATION (HLL distinct estimate off by
    // > 5×rsd; approx p50/p99 outside a generous exact-percentile
    // envelope, rank error ≤ n/accuracy = 1 row here) and require the
    // result to be EMPTY, which a WHERE FALSE oracle checks exactly.
    Gate("profile_sketch_bounds",
      // the bound-violation set must be EMPTY — schema-matched zero rows
      """SELECT CAST(NULL AS VARCHAR) AS col_name, CAST(NULL AS VARCHAR) AS metric,
        |       CAST(NULL AS DOUBLE) AS value
        |  FROM events WHERE FALSE""".stripMargin)((s, d) => {
      val ev = events(s, d)
      val approx = ext.Profiling.approxProfile(ev, Seq("user_id", "event_type"), Seq("value"))
      val exact = ext.Profiling.profile(ev, Seq("user_id", "event_type"))
      val env = ev.agg(
        expr("percentile(value, 0.45)").cast("double").as("p45"),
        expr("percentile(value, 0.55)").cast("double").as("p55"),
        expr("percentile(value, 0.97)").cast("double").as("p97"),
        expr("percentile(value, 0.999)").cast("double").as("p999")).head()
      val distinctViolations = approx.filter(col("approx_distinct").isNotNull)
        .join(exact.select(col("col_name"), col("n_distinct")), "col_name")
        .filter(abs(col("approx_distinct") - col("n_distinct")).cast("double")
          > lit(0.10) * col("n_distinct")) // 5 × rsd(0.02)
        .select(col("col_name"), lit("approx_distinct").as("metric"),
          col("approx_distinct").cast("double").as("value"))
      val pViolations = approx.filter(col("approx_p50").isNotNull)
        .filter(!col("approx_p50").between(env.getDouble(0), env.getDouble(1)) ||
          !col("approx_p99").between(env.getDouble(2), env.getDouble(3)))
        .select(col("col_name"), lit("approx_percentile").as("metric"),
          col("approx_p50").as("value"))
      distinctViolations.unionByName(pViolations)
    }),
    // declarative data-quality report over the copied fact table — the QA
    // gate the reference gets from SQL Server constraints and a parquet
    // lake needs explicitly. Row-local checks fuse into ONE scan; unique
    // and referential checks are one keyed pass each. Mixed pass/fail
    // counts on the fixtures keep the gate honest (not all-zeros).
    Gate("validate_orders",
      """SELECT 'not_null' AS "check", 'o_custkey' AS "column",
        |       (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS n_violations
        |UNION ALL
        |SELECT 'accepted_values', 'o_orderstatus',
        |       (SELECT count(*) FROM orders
        |         WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F'))
        |UNION ALL
        |SELECT 'in_range', 'o_totalprice',
        |       (SELECT count(*) FROM orders
        |         WHERE o_totalprice IS NOT NULL
        |           AND (CAST(o_totalprice AS DOUBLE) < 0 OR CAST(o_totalprice AS DOUBLE) > 150000))
        |UNION ALL
        |SELECT 'predicate:positive_key', 'o_orderkey',
        |       (SELECT count(*) FROM orders WHERE NOT COALESCE(o_orderkey > 0, FALSE))
        |UNION ALL
        |SELECT 'unique', 'o_orderkey',
        |       -- DuckDB sum(BIGINT) widens to DECIMAL(38,0); the engine reports BIGINT
        |       (SELECT CAST(COALESCE(sum(n - 1), 0) AS BIGINT) FROM (
        |          SELECT count(*) AS n FROM orders WHERE o_orderkey IS NOT NULL
        |           GROUP BY o_orderkey HAVING count(*) > 1) t)
        |UNION ALL
        |SELECT 'ref_integrity', 'o_custkey',
        |       (SELECT count(*) FROM orders
        |         WHERE o_custkey IS NOT NULL
        |           AND o_custkey NOT IN (SELECT c_custkey FROM customer))""".stripMargin)((s, d) => {
      import graft.ext.Validate
      Validate.report(orders(s, d), Seq(
        Validate.NotNull("o_custkey"),
        Validate.AcceptedValues("o_orderstatus", Seq("O", "F")),
        Validate.InRange("o_totalprice", Some(0.0), Some(150000.0)),
        Validate.Predicate("o_orderkey", "positive_key", col("o_orderkey") > 0),
        Validate.Unique(Seq("o_orderkey")),
        Validate.RefIntegrity("o_custkey", customer(s, d), "c_custkey")))
    }),
    // entry points A+B+C end-to-end at the driver gate: the phased Runner
    // (classify → copy+update fact → plain fact → parallel dim) over a temp
    // source/target TableStore pair built inside the query, with the ledger
    // row counts riding along as extra rows. The oracle reconstructs the
    // post-state of every table (window reload, changed-key upsert, dim
    // truncate-reload) plus the four Completed ledger records in DuckDB.
    // Output is canonicalized to (src_table, k, v_num, v_str) scalar rows.
    Gate[String]("o4_runner_e2e",
      // entry points A+B+C reconstructed: the window-reload post-state (P3 raw
      // BETWEEN, +1d−3ms end), the changed-key upsert post-state (date-cast
      // changed-key discovery, full-row re-fetch), the dim truncate-reload,
      // and the four Completed ledger records with their recordsCopied counts
      s"""$evCte,
         |changed AS ($changedKeysSql),
         |win AS (SELECT * FROM events
         |         WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00.000'
         |                      AND TIMESTAMP '2024-01-09 23:59:59.997'),
         |cu AS (SELECT event_id, value, event_type FROM win
         |        WHERE event_id NOT IN (SELECT event_id FROM changed)
         |       UNION ALL
         |       SELECT event_id, value, event_type FROM events
         |        WHERE event_id IN (SELECT event_id FROM changed))
         |SELECT 'events_cu' AS src_table, event_id AS k,
         |       CAST(value AS DOUBLE) AS v_num, event_type AS v_str FROM cu
         |UNION ALL
         |SELECT 'events_plain', event_id, CAST(value AS DOUBLE), event_type FROM win
         |UNION ALL
         |SELECT 'customer', c_custkey, CAST(c_acctbal AS DOUBLE), c_name FROM customer
         |UNION ALL
         |SELECT 'ledger', (SELECT count(*) FROM win), CAST(NULL AS DOUBLE), 'events_cu/Fact Copy/Completed'
         |UNION ALL
         |SELECT 'ledger', (SELECT count(*) FROM changed), CAST(NULL AS DOUBLE), 'events_cu/Table Update/Completed'
         |UNION ALL
         |SELECT 'ledger', (SELECT count(*) FROM win), CAST(NULL AS DOUBLE), 'events_plain/Fact Copy/Completed'
         |UNION ALL
         |SELECT 'ledger', (SELECT count(*) FROM customer), CAST(NULL AS DOUBLE), 'customer/Dim Copy/Completed'""".stripMargin,
      o4SourceWarehouse, (s, d, srcBase) => {
      // source warehouse (a copy+update fact with synthetic update_ts, a
      // plain windowed fact, and a dim) staged once per JVM and COPIED per
      // invocation (r20 fixture-class move — the staging is gate setup,
      // not the Runner work this gate certifies; Verify still stages it
      // from scratch). The Runner's classify/dispatch/copy/upsert/ledger
      // phases run fresh against a fresh target store every time.
      val srcStore = storeCopy(s, srcBase, "graft-o4-src")
      val tgtStore = new graft.store.TableStore(s,
        Scratch.dir("graft-o4-tgt").toString)
      val clock = () => java.time.LocalDateTime.of(2024, 6, 1, 12, 0)
      val ledger = new graft.ledger.Ledger(s, tgtStore, clock = clock)
      val cfg = graft.config.EngineConfig(
        sourceSchema = "src", targetSchema = "tgt", scheduleMode = None,
        dateFrom = Some(EvFrom.toString), dateTo = Some(EvTo.toString),
        tables = Seq(
          graft.config.TableSpec("events_cu", "fact", dateColumn = Some("ts"),
            updateDateColumn = Some("update_ts"), primaryKey = Some("event_id")),
          graft.config.TableSpec("events_plain", "fact", dateColumn = Some("ts")),
          graft.config.TableSpec("customer", "dim")))
      val results = new graft.pipeline.Runner(s, srcStore, tgtStore, ledger, clock = clock).run(cfg)
      require(results.forall(_.ok),
        s"o4_runner_e2e: failed table results: ${results.filterNot(_.ok).mkString("; ")}")
      def canon(table: String, df: DataFrame, k: org.apache.spark.sql.Column,
          vNum: org.apache.spark.sql.Column, vStr: org.apache.spark.sql.Column) =
        df.select(lit(table).as("src_table"), k.cast("long").as("k"),
          vNum.cast("double").as("v_num"), vStr.cast("string").as("v_str"))
      canon("events_cu", tgtStore.read("events_cu"),
          col("event_id"), col("value"), col("event_type"))
        .unionByName(canon("events_plain", tgtStore.read("events_plain"),
          col("event_id"), col("value"), col("event_type")))
        .unionByName(canon("customer", tgtStore.read("customer"),
          col("c_custkey"), col("c_acctbal"), col("c_name")))
        .unionByName(canon("ledger", ledger.latest,
          col("recordsCopied"), lit(null),
          concat_ws("/", col("tableName"), col("process"), col("status"))))
    }),
    // schema evolution at the driver gate: a table whose later appends
    // added a column must read as the union-by-name of both schema
    // generations (old rows NULL for the new column) — the mergeSchema
    // read path (S6/S9 storage extension), not one arbitrary footer's view
    Gate("o5_evolved_read",
      """SELECT o_orderkey, o_custkey, CAST(NULL AS VARCHAR) AS o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)((s, d) => {
      val store = new graft.store.TableStore(s,
        Scratch.dir("graft-o5").toString)
      val ord = orders(s, d)
      store.atomicOverwrite("orders_evolving",
        ord.filter(col("o_orderkey") % 2 === 0).select("o_orderkey", "o_custkey"))
      store.append("orders_evolving",
        ord.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")))
      store.readEvolved("orders_evolving")
    }),
    // object-store-safe commit protocol at the driver gate: the same
    // overwrite→append→compact lifecycle as o5 but through POINTER commits
    // (immutable generation dirs + atomic create-if-absent markers — the
    // protocol a 100 TB object-store deployment needs, where rename is a
    // non-atomic copy+delete). The read resolves the manifest chain; the
    // oracle is simply the reconstructed row set.
    Gate("o6_pointer_commit", "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders")((s, d) => {
      val store = new graft.store.TableStore(s,
        Scratch.dir("graft-o6").toString,
        graft.store.CommitMode.Pointer)
      val ord = orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus")
      store.atomicOverwrite("ord_ptr", ord.filter(col("o_orderkey") % 2 === 0))
      store.append("ord_ptr", ord.filter(col("o_orderkey") % 2 === 1))
      store.compact("ord_ptr", 4) // folds the append generations into one
      store.read("ord_ptr")
    }),
    // generation time travel on the o6 pointer protocol: three publishes
    // under retention 3, then every retained snapshot read back exactly
    // as-published and tagged — the reproducible-training-run / audit path
    // (pin the generation a job read, re-read it bit-identically later)
    Gate[String]("o7_time_travel",
      """SELECT o_orderkey, o_custkey, o_orderstatus, 'v1' AS snap
        |  FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, 'v2'
        |  FROM orders WHERE o_orderkey % 2 = 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, 'v3'
        |  FROM orders WHERE o_orderkey % 2 = 1 OR o_orderkey % 10 = 0""".stripMargin,
      o7Store, (s, d, dir) => {
      // committed store prepared once per JVM (r20 wave 2): the
      // three staged commits are corpus-deterministic setup; the operator
      // this gate certifies — resolving and re-reading PINNED generations
      // bit-identically — runs fresh below, READ-ONLY on the cached store.
      // The write path stays certified by the first build per JVM (the
      // driver Verify) and TableStoreSpec.
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, keepGenerations = 3)
      val gens = store.generations("ord_tt") // newest first
      require(gens.size == 3, s"o7_time_travel: expected 3 retained generations, got $gens")
      def snap(g: Long, tag: String) =
        store.readGeneration("ord_tt", g).withColumn("snap", lit(tag))
      snap(gens(2), "v1").unionByName(snap(gens(1), "v2")).unionByName(snap(gens.head, "v3"))
    }),
    // manifest-stats data skipping on a range-clustered pointer table: a
    // narrow price band must open a strict subset of the 16 clustered
    // files (pruneEvidence is asserted, not assumed) and still return
    // exactly the filtered table
    Gate[String]("o8_stats_pruned_read",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice BETWEEN 50000.0 AND 100000.0""".stripMargin, o8Store, (s, d, dir) => {
      // clustered store prepared once per JVM (see o7): the gate
      // certifies the manifest-stats PRUNED READ, fresh below, READ-ONLY
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, statsColumns = Seq("o_totalprice"))
      val (kept, total) = store.pruneEvidence("ord_sk", "o_totalprice", 50000.0, 100000.0)
      require(kept < total,
        s"o8_stats_pruned_read: expected pruning on the clustered layout, kept $kept of $total")
      store.readWhere("ord_sk", "o_totalprice", 50000.0, 100000.0)
    }),
    // the 100 TB fact-table shape: date-PARTITIONED and pointer-committed,
    // with per-file stats recorded INSIDE partition subdirs — a narrow band
    // on a non-partition column prunes files within every month (fine axis),
    // a band on the partition column skips whole month dirs (coarse axis),
    // and both compose; every prune is asserted, not assumed
    Gate[String]("o9_part_pruned_read",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       CAST(date_trunc('month', o_orderdate) AS DATE) AS o_month
        |  FROM orders
        | WHERE CAST(date_trunc('month', o_orderdate) AS DATE) = DATE '1997-03-01'
        |   AND o_totalprice BETWEEN 50000.0 AND 100000.0""".stripMargin, o9Store, (s, d, dir) => {
      // date-partitioned store prepared once per JVM (see o7):
      // the gate certifies BOTH pruning axes + the composed read, fresh
      // below, READ-ONLY on the cached store
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, statsColumns = Seq("o_totalprice"))
      val (kf, tf) = store.pruneEvidence("ord_pp", "o_totalprice", 50000.0, 100000.0)
      require(kf < tf, s"o9: file axis inside partitions must prune, kept $kf of $tf")
      val m = java.sql.Date.valueOf("1997-03-01")
      val (kp, tp) = store.pruneEvidence("ord_pp", "o_month", m, m)
      require(kp < tp, s"o9: partition axis must prune, kept $kp of $tp")
      val both = Seq[(String, Any, Any)](("o_month", m, m), ("o_totalprice", 50000.0, 100000.0))
      val (kb, _) = store.pruneEvidence("ord_pp", both)
      require(kb <= math.min(kf, kp), s"o9: composed axes must intersect, kept $kb vs $kf/$kp")
      store.readWhere("ord_pp", both)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_month")
    }),
    // run-level multi-table snapshot: one atomic _run marker pins the pair
    // of tables a run published; a later half-finished run that already
    // republished one table does NOT leak into the snapshot view — the
    // reconstruction below must equal the FULL original pair
    Gate[(String, Long)]("o10_run_snapshot",
      """SELECT 'cust' AS src_table, c_custkey AS k, c_acctbal AS v, c_name AS name
        |  FROM customer
        |UNION ALL
        |SELECT 'ord', o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) FROM orders""".stripMargin,
      o10Store, (s, d, staged) => {
      // staged store + published snapshot id prepared once per JVM
      // (see o7), including the mid-flight republish; the operator
      // this gate certifies — snapshot-isolated reconstruction of the
      // FULL original pair — runs fresh below, READ-ONLY
      val (snapDir, snap) = staged
      val store = new graft.store.TableStore(s, snapDir,
        graft.store.CommitMode.Pointer, keepGenerations = 3)
      def canon(tag: String, df: DataFrame, k: org.apache.spark.sql.Column,
          v: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
        df.select(lit(tag).as("src_table"), k.cast("long").as("k"),
          v.cast("double").as("v"), n.cast("string").as("name"))
      canon("cust", store.readSnapshot(snap, "cust_s"),
          col("c_custkey"), col("c_acctbal"), col("c_name"))
        .unionByName(canon("ord", store.readSnapshot(snap, "ord_s"),
          col("o_orderkey"), col("o_totalprice"), lit(null)))
    }),
    // generation diff: the incremental-consumer surface over the commit
    // history — a consumer that processed generation v1 learns exactly the
    // insert/delete multiset that produces v2, from the store alone
    Gate[String]("o12_generation_diff",
      """SELECT o_orderkey, o_custkey, o_orderstatus, 'insert' AS __change
        |  FROM orders WHERE o_orderkey % 2 = 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, 'delete'
        |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 4 <> 0""".stripMargin,
      o12Store, (s, d, dir) => {
      // two-generation store prepared once per JVM (see o7): the
      // operator this gate certifies is generationDiff, fresh, READ-ONLY
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, keepGenerations = 3)
      val gens = store.generations("ord_d") // newest first
      store.generationDiff("ord_d", gens(1), gens.head)
    }),
    // partition-scoped generation diff: a one-month overwrite on a
    // month-partitioned table must DIFF one month — shared manifest entries
    // are skipped before any scan (the incremental-consumer path at 100 TB:
    // diff cost tracks the changed partitions, never the table)
    Gate[String]("o12_diff_partition_scoped",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |       CAST(date_trunc('month', o_orderdate) AS DATE) AS o_month,
        |       'delete' AS __change
        |  FROM orders
        | WHERE CAST(date_trunc('month', o_orderdate) AS DATE) = DATE '1997-03-01'
        |   AND o_orderkey % 2 = 1""".stripMargin, o12pStore, (s, d, dir) => {
      // month-partitioned two-generation store prepared once per JVM
      // (see o7): the operator this gate certifies — the diff
      // scanning ~one month's files, evidence-checked — runs fresh below,
      // READ-ONLY on the cached store
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, keepGenerations = 3)
      val gens = store.generations("ord_pd")
      val (scanned, total) = store.generationDiffEvidence("ord_pd", gens(1), gens.head)
      require(scanned < total / 3,
        s"o12p: one-month change must diff ~one month's files: scanned $scanned of $total")
      store.generationDiff("ord_pd", gens(1), gens.head)
    }),
    // store change feed: the commit history consumed as ordered CDC batches
    // (insert/delete multisets per commit, batch-stamped) — the engine's own
    // changed-key propagation, no source column convention needed
    Gate[(String, Long)]("o13_change_feed",
      """SELECT o_orderkey, o_custkey, o_orderstatus, 'insert' AS __change, 1 AS batch
        |  FROM orders WHERE o_orderkey % 3 = 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, 'insert', 2
        |  FROM orders WHERE o_orderkey % 3 = 2
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, 'delete', 2
        |  FROM orders WHERE o_orderkey % 3 = 0""".stripMargin, o13Store, (s, d, staged) => {
      // staged store + consumer cursor prepared once per JVM (see
      // o7): the operator this gate certifies — draining the commit
      // history as ordered CDC batches — runs fresh below, READ-ONLY
      val (feedDir, cursor) = staged
      val store = new graft.store.TableStore(s, feedDir,
        graft.store.CommitMode.Pointer, keepGenerations = 4)
      var batchNo = 0
      var acc: Option[DataFrame] = None
      graft.streaming.EventStream.drainChanges(store, "ord_f", cursor) { (diff, _) =>
        batchNo += 1
        val stamped = diff.withColumn("batch", lit(batchNo))
        acc = Some(acc.map(_.unionByName(stamped)).getOrElse(stamped))
      }
      require(batchNo == 2, s"o13: two commits after the cursor, drained $batchNo")
      acc.get
    }),
    // JSONL shard export round-trip: the corpus written as line-JSON shards
    // (<= 100 records each — the training-stack delivery format) and read
    // back under the SOURCE schema must equal the table itself; escaping,
    // NULLs, and int widths all ride the gate hash
    Gate("o14_export_jsonl",
      // JSONL round-trip ≡ the table itself
      "SELECT doc_id, text, lang, source, n_chars FROM documents")((s, d) => {
      val doc = docs(s, d)
      val dir = Scratch.dir("graft-jsonl").toString + "/docs"
      graft.io.Export.jsonlShards(doc, dir, maxRecordsPerShard = 100,
        compression = Some("gzip"))
      graft.io.Export.readJsonl(s, dir, doc.schema)
    }),
    // WET (Common Crawl extracted-text) ingest: documents encoded as
    // standard WARC/1.0 conversion records (Content-Length in UTF-8 bytes,
    // language in the real WET header), then parsed back byte-exactly —
    // the identity oracle proves the framing (a char-based parser would
    // already diverge on the fixture's multibyte text)
    Gate("o17_ingest_wet",
      "SELECT doc_id, lang, text FROM documents WHERE text IS NOT NULL")((s, d) => {
      val doc = docs(s, d).filter(col("text").isNotNull)
      val dir = Scratch.dir("graft-wet").toString + "/wet"
      graft.io.Warc.writeWet(doc.select(
          concat(lit("urn:graft:doc:"), col("doc_id")).as("uri"),
          lit("2024-01-01T00:00:00Z").as("wdate"),
          col("lang"), col("text")),
        dir, "uri", "wdate", "lang", "text", maxRecordsPerShard = 100)
      graft.io.Warc.readWet(s, dir)
        .select(regexp_extract(col("uri"), "urn:graft:doc:(\\d+)", 1)
          .cast("bigint").as("doc_id"), col("lang"), col("text"))
    }),
    // ORC shard round-trip over EVENTS — the table with the types that
    // classically shift across columnar formats (micros-NTZ timestamps,
    // raw doubles): the re-read must be value-identical to the parquet
    // source under the same identity oracle the a-gates use
    Gate("o16_export_orc", s"SELECT $evCols FROM events")((s, d) => {
      val ev = events(s, d)
      val dir = Scratch.dir("graft-orc").toString + "/ev"
      graft.io.Export.orcShards(ev, dir, maxRecordsPerShard = 2000,
        compression = Some("zstd"))
      graft.io.Export.readOrc(s, dir)
    }),
    // CSV shard round-trip under the RFC-4180 dialect (doubled-quote
    // escaping, \N null sentinel): the re-read must reproduce the table
    // exactly — same identity oracle as the JSONL gate
    Gate("o15_export_csv", "SELECT doc_id, text, lang, source, n_chars FROM documents")((s, d) => {
      val doc = docs(s, d)
      val dir = Scratch.dir("graft-csv").toString + "/docs"
      graft.io.Export.csvShards(doc, dir, maxRecordsPerShard = 100,
        compression = Some("gzip"))
      graft.io.Export.readCsv(s, dir, doc.schema)
    }),
    // two-dimensional pruned read over the z-order layout: the Morton curve
    // keeps every file rectangle-ish in (o_orderkey, o_custkey), so a band
    // on EITHER dimension alone opens a strict subset of the 16 files and
    // the 2-D band opens no more than either axis's subset
    Gate[String]("o11_zorder_2d_read",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        | WHERE o_orderkey BETWEEN 10000 AND 20000
        |   AND o_custkey BETWEEN 100 AND 400""".stripMargin, o11Store, (s, d, dir) => {
      // z-ordered store prepared once per JVM (see o7): the gate
      // certifies 2-D pruning + the banded read, fresh below, READ-ONLY
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, statsColumns = Seq("o_orderkey", "o_custkey"))
      val bounds = Seq[(String, Any, Any)](
        ("o_orderkey", 10000L, 20000L), ("o_custkey", 100L, 400L))
      val (_, total) = store.pruneEvidence("ord_z2", "o_orderkey", 0L, Long.MaxValue)
      val (ka, _) = store.pruneEvidence("ord_z2", "o_orderkey", 10000L, 20000L)
      val (kc, _) = store.pruneEvidence("ord_z2", "o_custkey", 100L, 400L)
      require(ka < total && kc < total,
        s"o11: each dimension alone must prune: orderkey $ka, custkey $kc of $total")
      val (k2, _) = store.pruneEvidence("ord_z2", bounds)
      require(k2 <= math.min(ka, kc), s"o11: 2-D band must intersect, kept $k2 vs $ka/$kc")
      store.readWhere("ord_z2", bounds)
    }),
    Gate("a1_window_delete",
      s"SELECT * FROM lineitem WHERE l_shipdate NOT BETWEEN $liStartLit AND $liEndLit")((s, d) =>
      Ops.windowDelete(li(s, d), "l_shipdate", LiFrom, LiTo)),
    Gate("a5_window_reload",
      s"""SELECT * FROM lineitem
         | WHERE l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
         |   AND l_shipdate NOT BETWEEN $liStartLit AND $liEndLit
         |UNION ALL
         |SELECT * FROM lineitem WHERE l_shipdate BETWEEN $liStartLit AND $liEndLit""".stripMargin)(
      (s, d) => {
      // flagship: stale target (loaded only to 1998-12-31) refreshed for the window
      val target = li(s, d).filter(col("l_shipdate") < lit(java.time.LocalDateTime.of(1999, 1, 1, 0, 0)))
      Ops.windowedReload(target, li(s, d), "l_shipdate", LiFrom, LiTo)
    }),
    Gate("a2_truncate_reload", "SELECT * FROM part")((s, d) => Ops.truncateReload(part(s, d))),
    Gate("asof_prior_error",
      """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        |     e AS (SELECT * FROM events WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
        |       e.event_id AS prior_error_id, CAST(e.ts AS TIMESTAMP) AS prior_error_ts
        |  FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.ts""".stripMargin)((s, d) => {
      // as-of join: each click gets the user's latest error at or before it
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
      val errors = ev.filter(col("event_type") === "error")
      Ops.asOfJoin(clicks, errors, "user_id", "ts", "ts", "event_id", "event_id")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof.event_id").as("prior_error_id"),
          col("asof.ts").as("prior_error_ts"))
    }),
    // forward as-of: each click gets the user's NEXT error at or after it
    // (pandas merge_asof direction='forward'; DuckDB ASOF <=)
    Gate("asof_next_error",
      """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        |     e AS (SELECT * FROM events WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
        |       e.event_id AS next_error_id, CAST(e.ts AS TIMESTAMP) AS next_error_ts
        |  FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts <= e.ts""".stripMargin)((s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
      val errors = ev.filter(col("event_type") === "error")
      Ops.asOfJoin(clicks, errors, "user_id", "ts", "ts", "event_id", "event_id",
          direction = "forward")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof.event_id").as("next_error_id"),
          col("asof.ts").as("next_error_ts"))
    }),
    // ---- sproc analog (§2.9 O1) ----
    Gate("o1_sql_step",
      // DuckDB's date_trunc('day', ts) returns DATE (Spark's returns timestamp)
      // — re-cast the day key so both engines materialize a day timestamp
      s"""SELECT CAST(order_date AS TIMESTAMP) AS order_date, n_orders, total_price
         |  FROM (${Steps.sqlFor("daily_order_stats", OrdFrom, OrdTo)}) t""".stripMargin)((s, d) => {
      orders(s, d).createOrReplaceTempView("orders")
      // timestamp_ntz cast: date_trunc yields LTZ TimestampType which parquet
      // writes as legacy INT96 (ns at the reader) while the DuckDB oracle
      // materializes naive micros — the 3-round hash-red root cause (r3
      // verdict). UTC session makes the cast a value identity.
      Steps.run(s, "daily_order_stats", OrdFrom, OrdTo)
        .withColumn("order_date", col("order_date").cast("timestamp_ntz"))
    }),
    // the SparkSessionExtensions SQL-function path end-to-end: the SAME
    // native expression invoked from SQL TEXT (not the Column wrapper) —
    // proves a SQL-first deployment reaches the graftx family through
    // spark.sql.extensions registration alone
    Gate("o18_sql_function_path",
      s"""WITH $synthNfcSql
         |SELECT doc_id, nfc_normalize(text) AS nfc_text,
         |       length(nfc_normalize(text)) AS n_chars_nfc,
         |       round(jaro_winkler_similarity(
         |         translate(lpad(CAST((doc_id * 2654435761) % 100000000 AS VARCHAR), 8, '0'),
         |                   '0123456789', 'abcdefghij'), 'martha'), 6) AS jw_probe
         |  FROM nfc""".stripMargin)((s, d) => {
      synthNfcDocs(s, d).createOrReplaceTempView("sql_path_docs")
      // spark.sql resolves eagerly, so the view can drop immediately —
      // query entries must not leak state into the shared session.
      // jw_probe runs on a GUARANTEED-ASCII hashed-letters projection (the
      // dedup_name_linkage recipe), not substring(text, 1, 8): the JW
      // kernel indexes code points where DuckDB's indexes bytes, so raw
      // corpus heads only hash-match while they happen to be ASCII — a
      // fixture regen with CJK/accented heads would break the gate by
      // design (r17 advice)
      val df = s.sql("""SELECT doc_id, unicode_normalize(text, 'NFC') AS nfc_text,
                       |       length(unicode_normalize(text, 'NFC')) AS n_chars_nfc,
                       |       round(jaro_winkler(
                       |         translate(lpad(CAST(doc_id * 2654435761 % 100000000 AS STRING), 8, '0'),
                       |                   '0123456789', 'abcdefghij'), 'martha'), 6) AS jw_probe
                       |  FROM sql_path_docs""".stripMargin)
      s.catalog.dropTempView("sql_path_docs")
      df
    })
  )
}
