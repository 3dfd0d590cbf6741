package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Cdc => CdcOps}
import Tables.{dec, t}

/** CDC queries over a simulated Debezium envelope stream of the `events` table.
  * Op mapping: signup→c, purchase→u, error→d (delete), else r; entity pk = user_id;
  * source position = event_id (the arrival total order, SURVEY §7.4.2). */
object Cdc {

  private val EnvelopeSchema = StructType(Seq(
    StructField("op", StringType),
    StructField("after", StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))),
    StructField("before", StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))),
    StructField("source", StructType(Seq(
      StructField("ts_ms", LongType), StructField("file", StringType),
      StructField("pos", LongType))))))

  /** Render events as raw Debezium envelope JSON strings (the CDC source's wire format).
    * Built with codegen'd string concat rather than per-row Jackson `to_json` — the
    * generation is bench scaffolding; the measured operators are the parse + unwrap +
    * dedupe downstream. */
  private def eventEnvelopes(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val isDel = col("event_type") === "error"
    val op = when(col("event_type") === "signup", "c")
      .when(col("event_type") === "purchase", "u")
      .when(isDel, "d").otherwise("r")
    val payloadJson = concat(lit("{\"event_id\":"), col("event_id"),
      lit(",\"user_id\":"), col("user_id"),
      lit(",\"event_type\":\""), col("event_type"),
      lit("\",\"value\":"), col("value").cast(StringType), lit("}"))
    val pkOnlyJson = concat(lit("{\"user_id\":"), col("user_id"), lit("}"))
    ev.select(concat(
      lit("{\"op\":\""), op,
      lit("\",\"after\":"), when(isDel, lit("null")).otherwise(payloadJson),
      lit(",\"before\":"), when(isDel, pkOnlyJson).otherwise(lit("null")),
      lit(",\"source\":{\"ts_ms\":"), unix_millis(col("ts")),
      lit(",\"file\":\"binlog.000001\",\"pos\":"), col("event_id"),
      lit("}}")).as("value"))
  }

  /** Parse + unwrap (P1/P2) + normalize (P8): the full envelope→staging-row path.
    * Tombstones (no op) and truncates drop BELOW the parse via a cheap streaming-path
    * predicate, so the full envelope parse runs exactly once per surviving row (see the
    * plan note on [[graft.operators.Cdc.unwrapEnvelope]] — the naive post-parse filter
    * re-evaluates the parse 3× per row in an interpreted Filter). */
  private def unwrapped(s: SparkSession, dir: String): DataFrame = {
    val rawOp = get_json_object(col("value"), "$.op")
    // The `|| spark_partition_id() < 0` arm is vacuously FALSE — it never admits a
    // row — but it makes the tombstone prefilter a single NON-DETERMINISTIC predicate
    // that PushPredicateThroughNonJoin can neither split nor push below the scan-floor
    // exchange (guide §4.4's duplication fix applied to placement): without it the
    // whole get_json_object probe (a per-row streaming JSON parse) is substituted
    // through the envelope projection and evaluated on the ONE pre-spread scan task,
    // re-serializing the exact work the floor exists to spread (measured: 1.22 s
    // single-task below the exchange vs ~0.1 s/task above it at 32 cores).
    val parsed = eventEnvelopes(s, dir)
      .filter((rawOp.isNotNull && rawOp =!= lit("t")) || spark_partition_id() < 0)
      .select(from_json(col("value"), EnvelopeSchema).as("j"))
      .select(col("j.*"))
    CdcOps.normalizeColumns(CdcOps.unwrapEnvelope(parsed, withBinlogPosition = true,
      preFiltered = true))
  }

  private val unwrapOracle =
    """WITH u AS (
      |  SELECT
      |    CASE WHEN event_type='error' THEN NULL ELSE event_id END AS event_id,
      |    user_id,
      |    CASE WHEN event_type='error' THEN NULL ELSE event_type END AS et,
      |    CASE WHEN event_type='error' THEN NULL ELSE value END AS v,
      |    CASE WHEN event_type='signup' THEN 'c' WHEN event_type='purchase' THEN 'u'
      |         WHEN event_type='error' THEN 'd' ELSE 'r' END AS op,
      |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms,
      |    'binlog.000001' AS file, event_id AS pos,
      |    CASE WHEN event_type='error' THEN 'true' ELSE 'false' END AS deleted
      |  FROM events)
      |""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // ---- CDC operator inventory (SURVEY §2) ---------------------------------------------------

    // P1+P2+P8: envelope unwrap with delete rewrite + system columns
    QuerySpec("cdc_unwrap", (s, dir) => unwrapped(s, dir),
      oracle = (unwrapOracle +
        """SELECT event_id, user_id, et AS "event_type", v AS "value",
        |  op AS "KBC__OPERATION", ts_ms AS "KBC__EVENT_TIMESTAMP_MS", file AS "KBC__FILE",
        |  pos AS "KBC__POS", deleted AS "KBC__DELETED"
        |FROM u""".stripMargin)),

    // Debezium outbox EventRouter contract: route by aggregate type, skip deletes,
    // per-(topic, key) contiguous sequence in binlog order (Kafka's per-partition
    // ordering guarantee — and the scale-safe window key)
    QuerySpec("cdc_outbox_route", (s, dir) =>
      CdcOps.outboxRoute(unwrapped(s, dir), routeCol = "event_type", keyCol = "user_id")
        .select(col("topic"), col("user_id"), col("seq"), col("event_id"),
          col("value"), col("KBC__POS")),
      oracle = (unwrapOracle +
        """, r AS (SELECT 'outbox.event.' || et AS topic, user_id, event_id, v, pos
        |  FROM u WHERE op <> 'd')
        |SELECT topic, user_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY topic, user_id ORDER BY pos) AS BIGINT) AS seq,
        |  event_id, v AS "value", pos AS "KBC__POS"
        |FROM r""".stripMargin)),

    // D1+D2+D5+D7: last-write-wins dedupe over the arrival total order (binlog pos)
    QuerySpec("cdc_dedupe_lww", (s, dir) =>
      CdcOps.dedupeLastWins(unwrapped(s, dir), Seq("user_id"), orderCol = "KBC__POS"),
      oracle = (unwrapOracle +
        """, d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY pos DESC) AS rn FROM u)
        |SELECT event_id, user_id, et AS "event_type", v AS "value",
        |  op AS "KBC__OPERATION", ts_ms AS "KBC__EVENT_TIMESTAMP_MS", file AS "KBC__FILE",
        |  pos AS "KBC__POS", deleted AS "KBC__DELETED"
        |FROM d WHERE rn = 1""".stripMargin)),

    // P7/D1 MySQL parity (VERDICT r1 #6): LWW dedupe over the COMPOUND binlog (file, pos)
    // order — events spread across three binlog files; the winner per key is the latest by
    // (file, pos) lexicographic, via the collision-free single-long encoding binlogOrder
    QuerySpec("cdc_dedupe_binlog", (s, dir) => {
      val ev = t(s, dir, "events")
      val file = concat(lit("binlog.00000"), (col("event_id") % 3 + 1).cast(StringType))
      val staged = ev.select(col("user_id"), col("event_id"),
        file.as("KBC__FILE"), col("event_id").as("KBC__POS"))
        .withColumn("__ord", CdcOps.binlogOrder(col("KBC__FILE"), col("KBC__POS")))
      CdcOps.dedupeLastWins(staged, Seq("user_id"), orderCol = "__ord").drop("__ord")
    },
      oracle = """WITH e AS (SELECT user_id, event_id,
        |  'binlog.00000' || CAST(event_id % 3 + 1 AS VARCHAR) AS f, event_id AS p
        |  FROM events),
        |d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY f DESC, p DESC) AS rn FROM e)
        |SELECT user_id, event_id, f AS "KBC__FILE", p AS "KBC__POS" FROM d WHERE rn = 1""".stripMargin),

    // D1 skew path: the two-phase (key,salt)->key salted dedupe must produce EXACTLY the
    // plain LWW result (associativity of last-write-wins) — oracle = the same window SQL
    QuerySpec("cdc_dedupe_salted", (s, dir) =>
      CdcOps.dedupeLastWinsSalted(unwrapped(s, dir), Seq("user_id"), orderCol = "KBC__POS"),
      oracle = (unwrapOracle +
        """, d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY pos DESC) AS rn FROM u)
        |SELECT event_id, user_id, et AS "event_type", v AS "value",
        |  op AS "KBC__OPERATION", ts_ms AS "KBC__EVENT_TIMESTAMP_MS", file AS "KBC__FILE",
        |  pos AS "KBC__POS", deleted AS "KBC__DELETED"
        |FROM d WHERE rn = 1""".stripMargin)),

    // Debezium transaction-metadata END markers rebuilt from the event stream: per
    // transaction (synthesized as 50-events-per-tx over the binlog order) the event
    // count, first/last position and per-collection counts — the exact payload of the
    // transaction topic's END event (id, event_count, data_collections). Two-level
    // partial->final aggregation: per-(tx, collection) cells shuffle once, the rollup
    // state per tx is bounded by the distinct-collection count, and the collection list
    // is sort_array'd so collect_list's arrival order can't leak into the result.
    QuerySpec("cdc_tx_boundaries", (s, dir) => {
      val u = unwrapped(s, dir)
        .withColumn("tx_id", expr("KBC__POS div 50"))
        .withColumn("coll", coalesce(col("event_type"), lit("deleted")))
      val perColl = u.groupBy(col("tx_id"), col("coll"))
        .agg(count(lit(1)).as("cnt"),
          min(col("KBC__POS")).as("mn"), max(col("KBC__POS")).as("mx"))
      perColl.groupBy(col("tx_id")).agg(
        sum(col("cnt")).as("event_count"),
        min(col("mn")).as("first_pos"), max(col("mx")).as("last_pos"),
        array_join(sort_array(collect_list(
          concat_ws(":", col("coll"), col("cnt")))), ",").as("data_collections"))
        .orderBy(col("tx_id"))
    },
      oracle = (unwrapOracle +
        """, x AS (SELECT *, pos // 50 AS tx_id, COALESCE(et, 'deleted') AS coll FROM u),
        |pc AS (SELECT tx_id, coll, COUNT(*) AS cnt, MIN(pos) AS mn, MAX(pos) AS mx
        |  FROM x GROUP BY 1, 2)
        |SELECT tx_id, CAST(SUM(cnt) AS BIGINT) AS event_count,
        |  CAST(MIN(mn) AS BIGINT) AS first_pos, CAST(MAX(mx) AS BIGINT) AS last_pos,
        |  string_agg(coll || ':' || cnt, ',' ORDER BY coll || ':' || cnt) AS data_collections
        |FROM pc GROUP BY tx_id ORDER BY tx_id""".stripMargin)),

    // D9: no-pkey fallback — key = all non-system columns
    QuerySpec("cdc_dedupe_nopk", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("event_id").as("KBC__BATCH_EVENT_ORDER"))
      CdcOps.dedupeLastWins(ev, Seq.empty, orderCol = "KBC__BATCH_EVENT_ORDER")
    },
      oracle = """SELECT user_id, event_type, MAX(event_id) AS "KBC__BATCH_EVENT_ORDER"
        |FROM events GROUP BY user_id, event_type""".stripMargin),

    // SCD Type-2 companion to the LWW latest-state table: validity intervals per key
    // from the same ordered change stream — one exchange+sort carries lag (change
    // detection), lead (valid_to) and row_number (version)
    QuerySpec("cdc_scd2", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"),
          col("event_id"))
      CdcOps.scd2History(ev, keys = Seq("user_id"), attr = "event_type",
          orderCols = Seq("ms", "event_id"))
        .withColumnRenamed("valid_from", "valid_from_ms")
        .withColumnRenamed("valid_to", "valid_to_ms")
    },
      oracle = """WITH g AS (SELECT user_id, event_type, event_id,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |o AS (SELECT *, LAG(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM g),
        |c AS (SELECT * FROM o WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, ms AS valid_from_ms,
        |  LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS valid_to_ms,
        |  (LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL) AS is_current,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS BIGINT) AS version
        |FROM c""".stripMargin),

    // incremental SCD2 maintenance: history from the early half + scd2Merge of the late
    // half must equal the full-stream recompute — the oracle IS the full-stream SQL, so
    // the O(batch + touched-keys) path is gated against the semantics it must preserve
    QuerySpec("cdc_scd2_incremental", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"),
          col("event_id"))
      val mid = ev.agg(((min(col("ms")) + max(col("ms"))) / 2).cast("long").as("__mid"))
      val evM = ev.crossJoin(broadcast(mid))
      val early = evM.filter(col("ms") <= col("__mid")).drop("__mid")
      val late = evM.filter(col("ms") > col("__mid")).drop("__mid")
      val history = CdcOps.scd2History(early, Seq("user_id"), "event_type", Seq("ms", "event_id"))
      CdcOps.scd2Merge(history, late, Seq("user_id"), "event_type", Seq("ms", "event_id"))
        .withColumnRenamed("valid_from", "valid_from_ms")
        .withColumnRenamed("valid_to", "valid_to_ms")
    },
      // the incremental path must REPRODUCE the full-stream semantics — same SQL as cdc_scd2
      oracle = """WITH g AS (SELECT user_id, event_type, event_id,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |o AS (SELECT *, LAG(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM g),
        |c AS (SELECT * FROM o WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, ms AS valid_from_ms,
        |  LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS valid_to_ms,
        |  (LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL) AS is_current,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS BIGINT) AS version
        |FROM c""".stripMargin),

    // CDC stream-integrity audit: per binlog file, detect position gaps beyond the
    // expected stride (planted by dropping every 1000th event) — the missed-events
    // check an ingestion pipeline runs against its own offsets; one keyed window
    QuerySpec("cdc_gap_audit", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val staged = t(s, dir, "events")
        .filter(col("event_id") % 1000 =!= 7)
        .select(concat(lit("binlog.00000"), (col("event_id") % 3 + 1).cast(StringType))
          .as("file"), col("event_id").as("pos"))
      val w = Window.partitionBy(col("file")).orderBy(col("pos"))
      staged.withColumn("__prev", lag(col("pos"), 1).over(w))
        .groupBy(col("file"))
        .agg(count(lit(1)).as("n_events"),
          min(col("pos")).as("min_pos"), max(col("pos")).as("max_pos"),
          sum(when(col("__prev").isNotNull && col("pos") - col("__prev") > 3, 1L)
            .otherwise(0L)).as("n_gaps"),
          coalesce(max(when(col("__prev").isNotNull, col("pos") - col("__prev"))), lit(0L))
            .as("max_stride"))
    },
      oracle = """WITH s AS (SELECT 'binlog.00000' || CAST(event_id % 3 + 1 AS VARCHAR) AS file,
        |    event_id AS pos FROM events WHERE event_id % 1000 <> 7),
        |l AS (SELECT file, pos, LAG(pos) OVER (PARTITION BY file ORDER BY pos) AS prev FROM s)
        |SELECT file, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(pos) AS min_pos, MAX(pos) AS max_pos,
        |  CAST(SUM(CASE WHEN prev IS NOT NULL AND pos - prev > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |  CAST(COALESCE(MAX(CASE WHEN prev IS NOT NULL THEN pos - prev END), 0) AS BIGINT) AS max_stride
        |FROM l GROUP BY 1""".stripMargin),

    // incremental materialized-view maintenance: the delta algebra of the upsert/delete
    // stream (insert +v, update +v-prev, delete -prev) summed per key must TELESCOPE to
    // the final live state — maintained and recomputed values are both emitted and the
    // oracle hash-pins the identity row by row
    QuerySpec("cdc_mv_maintain", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("user_id"), dec(col("value"), 18, 2).as("v"),
          (col("event_type") === "error").as("is_del"), col("event_id"))
      val deltas = CdcOps.upsertDeltas(ev, Seq("user_id"), "v", col("is_del"), Seq("event_id"))
      val maintained = deltas.groupBy(col("user_id"))
        .agg(sum(col("delta")).as("__m"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
      val finalState = ev.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"),
          when(col("is_del"), lit(BigDecimal(0)).cast(DecimalType(18, 2)))
            .otherwise(col("v")).as("__f"))
      maintained.join(finalState, "user_id")
        .select(col("user_id"),
          col("__m").cast(DoubleType).as("maintained"),
          col("__f").cast(DoubleType).as("final_state"),
          (col("__m") === col("__f")).as("consistent"))
    },
      oracle = """WITH e AS (SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    (event_type = 'error') AS is_del, event_id
        |  FROM events WHERE value IS NOT NULL),
        |l AS (SELECT *, LAG(v) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_v,
        |    LAG(is_del) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_del FROM e),
        |d AS (SELECT user_id,
        |    CASE WHEN (prev_v IS NULL OR prev_del) AND is_del THEN CAST(0 AS DECIMAL(18,2))
        |         WHEN (prev_v IS NULL OR prev_del) THEN v
        |         WHEN is_del THEN -prev_v
        |         ELSE v - prev_v END AS delta FROM l),
        |m AS (SELECT user_id, SUM(delta) AS m FROM d GROUP BY 1),
        |f AS (SELECT user_id,
        |    CASE WHEN is_del THEN CAST(0 AS DECIMAL(18,2)) ELSE v END AS f
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM e) WHERE rn = 1)
        |SELECT m.user_id, CAST(m.m AS DOUBLE) AS maintained,
        |  CAST(f.f AS DOUBLE) AS final_state, (m.m = f.f) AS consistent
        |FROM m JOIN f USING (user_id)""".stripMargin),

    // D6+P6+E2+E3: schema-epoch union with NULL padding for drifted columns
    QuerySpec("cdc_chunk_union", (s, dir) => {
      val ev = t(s, dir, "events")
      val epoch1 = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val epoch2 = ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("props"))
      CdcOps.unionEpochs(Seq(epoch1, epoch2))
    },
      oracle = """SELECT event_id, user_id, event_type, CAST(NULL AS DOUBLE) AS "value",
        |  CAST(NULL AS VARCHAR) AS props
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT event_id, user_id, event_type, value, props
        |FROM events WHERE event_id % 2 = 1""".stripMargin),

    // D7: total event order consistent with arrival (distributed assignment, no global window)
    QuerySpec("cdc_event_order", (s, dir) => {
      val ordered = CdcOps.assignEventOrder(t(s, dir, "events"), Seq(col("ts"), col("event_id")))
      ordered.select(col("event_id"), col(CdcOps.OrderCol).as("KBC__BATCH_EVENT_ORDER"))
    },
      oracle = """SELECT event_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS BIGINT) AS "KBC__BATCH_EVENT_ORDER"
        |FROM events""".stripMargin),

    // §1.3/§2.6: golden value rendering — epoch-day date, epoch-millis ts (UTC), base64, ms-of-day
    QuerySpec("cdc_type_render", (s, dir) => {
      val ev = t(s, dir, "events")
      ev.select(
        col("event_id"),
        date_add(to_date(lit("1970-01-01")), floor(col("value")).cast(IntegerType)).as("as_date"),
        date_format(timestamp_millis(unix_millis(col("ts"))), "yyyy-MM-dd HH:mm:ss.SSS").as("as_ts"),
        base64(col("event_type").cast(BinaryType)).as("as_b64"),
        hex(col("event_type").cast(BinaryType)).as("as_hex"), // binary.handling.mode=hex rendering

        ((hour(col("ts")) * 3600 + minute(col("ts")) * 60 + second(col("ts"))) * lit(1000L))
          .cast(LongType).as("ms_of_day"))
    },
      oracle = """SELECT event_id,
        |  DATE '1970-01-01' + CAST(FLOOR(value) AS INT) AS as_date,
        |  strftime(epoch_ms(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT)), '%Y-%m-%d %H:%M:%S.%g') AS as_ts,
        |  to_base64(encode(event_type)) AS as_b64,
        |  hex(encode(event_type)) AS as_hex,
        |  CAST((date_part('hour', CAST(ts AS TIMESTAMP)) * 3600
        |      + date_part('minute', CAST(ts AS TIMESTAMP)) * 60
        |      + date_part('second', CAST(ts AS TIMESTAMP))) * 1000 AS BIGINT) AS ms_of_day
        |FROM events""".stripMargin),

    // §1.3/§2.6 v2 (VERDICT r1 #5): golden renderings from the reference's all-datatypes
    // case (`all-datatypes-chained/01/expected/.../inventory_all_data_types.csv`):
    // interval → Debezium MicroDuration micros (avg month = 30.4375 d = 2_629_800 s,
    // exact integer arithmetic), time → millis-of-day int, time-with-tz → HH:mm:ssZ,
    // timestamptz → 'yyyy-MM-dd HH:mm:ss+00' (UTC), point/geometry → raw JSON text,
    // int4range → '[lo,hi)' text
    QuerySpec("cdc_type_render_v2", (s, dir) => {
      val ev = t(s, dir, "events")
      val years = col("event_id") % 3
      val months = col("user_id") % 12
      val days = col("event_id") % 28
      val hours = col("user_id") % 24
      val mins = col("event_id") % 60
      val secs = col("user_id") % 60
      val intervalSecs = (years * 12 + months) * lit(2629800L) +
        days * lit(86400L) + hours * lit(3600L) + mins * lit(60L) + secs
      ev.select(
        col("event_id"),
        (intervalSecs * lit(1000000L)).cast(LongType).as("interval_micros"),
        ((hours * 3600 + mins * 60 + secs) * lit(1000L)).cast(LongType).as("time_ms_of_day"),
        format_string("%02d:%02d:%02dZ", hours.cast(IntegerType), mins.cast(IntegerType),
          secs.cast(IntegerType)).as("timetz_render"),
        concat(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), lit("+00")).as("tstz_render"),
        concat(lit("{\"x\":"), dec(col("value")).cast(StringType),
          lit(",\"y\":"), dec(col("value") * 2).cast(StringType),
          lit(",\"srid\":null}")).as("point_json"),
        concat(lit("["), col("user_id"), lit(","), col("user_id") + 10, lit(")"))
          .as("int4range_render"))
    },
      oracle = """WITH c AS (SELECT event_id, ts,
        |  event_id % 3 AS y, user_id % 12 AS mo, event_id % 28 AS d,
        |  user_id % 24 AS h, event_id % 60 AS mi, user_id % 60 AS s,
        |  user_id, value
        |  FROM events)
        |SELECT event_id,
        |  CAST(((y*12 + mo) * 2629800 + d * 86400 + h * 3600 + mi * 60 + s) * 1000000 AS BIGINT) AS interval_micros,
        |  CAST((h * 3600 + mi * 60 + s) * 1000 AS BIGINT) AS time_ms_of_day,
        |  printf('%02d:%02d:%02dZ', h, mi, s) AS timetz_render,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') || '+00' AS tstz_render,
        |  '{"x":' || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR)
        |    || ',"y":' || CAST(CAST(value * 2 AS DECIMAL(18,2)) AS VARCHAR)
        |    || ',"srid":null}' AS point_json,
        |  '[' || user_id || ',' || (user_id + 10) || ')' AS int4range_render
        |FROM c""".stripMargin),

    // §2.6 v3: the MySQL golden renderings v1/v2 didn't cover
    // (`ex_mysql_cdc/tests/functional/all-data-types/expected/.../inventory_all_data_types.csv`,
    // type mapping `ex_mysql_cdc/src/extractor/mysql_extractor.py:22-60`):
    // ENUM → the member string, SET → comma-joined members in definition order (the
    // Debezium bitmask decode), BIT(8) → base64 of the raw byte ('qg==' for 0xAA in
    // the golden), BINARY(8) → base64 of the ZERO-PADDED fixed-width bytes
    // ('qgAAAAAAAAA=' — right-padding is the fixed-BINARY contract), BIT(1) → BOOLEAN
    // (the declared special case), YEAR → plain int
    QuerySpec("cdc_type_render_v3", (s, dir) => {
      val ev = t(s, dir, "events")
      val byteHex = lpad(hex(col("user_id") % 256), 2, "0")
      val mask = col("event_id") % 8
      ev.select(
        col("event_id"),
        element_at(array(lit("x"), lit("y"), lit("z")),
          (col("event_id") % 3 + 1).cast(IntegerType)).as("enum_render"),
        concat_ws(",",
          when(mask.bitwiseAND(1) > 0, lit("a")),
          when(mask.bitwiseAND(2) > 0, lit("b")),
          when(mask.bitwiseAND(4) > 0, lit("c"))).as("set_render"),
        base64(unhex(byteHex)).as("bit8_render"),
        base64(unhex(concat(byteHex, lit("00000000000000")))).as("binary8_render"),
        (col("event_id") % 2 === 1).as("bit1_bool_render"),
        year(col("ts")).cast(IntegerType).as("year_render"))
    },
      oracle = """WITH c AS (SELECT event_id, user_id, ts,
        |  lpad(to_hex(user_id % 256), 2, '0') AS bh, event_id % 8 AS mask
        |  FROM events)
        |SELECT event_id,
        |  list_extract(['x','y','z'], CAST(event_id % 3 + 1 AS INT)) AS enum_render,
        |  concat_ws(',',
        |    CASE WHEN mask & 1 > 0 THEN 'a' END,
        |    CASE WHEN mask & 2 > 0 THEN 'b' END,
        |    CASE WHEN mask & 4 > 0 THEN 'c' END) AS set_render,
        |  to_base64(unhex(bh)) AS bit8_render,
        |  to_base64(unhex(bh || '00000000000000')) AS binary8_render,
        |  (event_id % 2 = 1) AS bit1_bool_render,
        |  CAST(year(CAST(ts AS TIMESTAMP)) AS INT) AS year_render
        |FROM c""".stripMargin),

    // S7+K2: CSV sink/scan roundtrip — headerless write with KBC__NULL null sentinel, typed
    // read back with explicit schema (`db_common/staging.py:458-460`, nullstr handling)
    QuerySpec("cdc_csv_roundtrip", (s, dir) => {
      val n = t(s, dir, "nation")
      val tmp = java.nio.file.Files.createTempDirectory("graft-csv").toString
      n.write.mode("overwrite").option("header", "false").option("nullValue", "KBC__NULL").csv(tmp)
      s.read.schema(n.schema).option("nullValue", "KBC__NULL").csv(tmp)
    },
      oracle = "SELECT * FROM nation"),

    // S7 sibling: ORC sink/scan roundtrip — Spark's native ORC writer/reader (the
    // columnar staging alternative where the warehouse side expects ORC), typed
    // read-back against the explicit schema like the CSV form
    QuerySpec("cdc_orc_roundtrip", (s, dir) => {
      val n = t(s, dir, "nation")
      val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString
      n.write.mode("overwrite").orc(tmp)
      s.read.schema(n.schema).orc(tmp)
    },
      oracle = "SELECT * FROM nation"),

    // S7 sibling: JSON-lines sink/scan roundtrip — the spool-adjacent text format
    // (Debezium payloads are JSONL); explicit schema on read so types survive
    QuerySpec("cdc_json_roundtrip", (s, dir) => {
      val n = t(s, dir, "nation")
      val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
      n.write.mode("overwrite").json(tmp)
      s.read.schema(n.schema).json(tmp)
    },
      oracle = "SELECT * FROM nation"),

    // P3+P4: column include/exclude filter (`column.include.list` compiled to projection)
    QuerySpec("cdc_column_filter", (s, dir) => {
      val include = Seq("event_id", "user_id", "event_type")
      val exclude = Seq("props")
      t(s, dir, "events").select(include.map(col): _*).drop(exclude.filter(include.contains): _*)
    },
      oracle = "SELECT event_id, user_id, event_type FROM events"),

    // E5: storage-schema reconciliation — dropped storage columns survive as typed NULLs
    QuerySpec("cdc_reconcile", (s, dir) => {
      val cur = t(s, dir, "events").select(col("event_id"), col("user_id"))
      CdcOps.reconcileWithStorage(cur, StructType(Seq(
        StructField("event_id", LongType), StructField("legacy_score", DoubleType))))
    },
      oracle = "SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS legacy_score FROM events"),

    // D2's anti-join shape: epoch-1 winners that survive because NO later-epoch event exists
    // for their key (reference PKEY_CACHE `LEFT JOIN ... WHERE pc.pkey IS NULL`,
    // `staging.py:266-282`) — expressed as a left_anti join. Epoch 2 is restricted
    // to a deterministic user subset (user_id % 3 = 0): every user has events on
    // both sides of any event_id split, so an unrestricted epoch 2 makes the gate
    // vacuous (0 rows in both engines would pass even for a broken anti-join) —
    // the subset guarantees survivors > 0 at every SF while still eliminating the
    // % 3 == 0 keys non-trivially
    QuerySpec("cdc_anti_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val epoch1 = ev.filter(col("event_id") < 500).select(col("user_id"), col("event_id"))
      val epoch2 = ev.filter(col("event_id") >= 500 && pmod(col("user_id"), lit(3)) === 0)
        .select(col("user_id"))
      epoch1.join(epoch2, Seq("user_id"), "left_anti")
    },
      oracle = """SELECT user_id, event_id FROM events e1
        |WHERE event_id < 500 AND NOT EXISTS (
        |  SELECT 1 FROM events e2
        |  WHERE e2.event_id >= 500 AND e2.user_id % 3 = 0 AND e2.user_id = e1.user_id)""".stripMargin),

    // left_semi companion (EXISTS): users with at least one error event
    QuerySpec("cdc_semi_join", (s, dir) => {
      val ev = t(s, dir, "events")
      ev.select(col("user_id")).distinct()
        .join(ev.filter(col("event_type") === "error").select(col("user_id")), Seq("user_id"), "left_semi")
    },
      oracle = """SELECT DISTINCT user_id FROM events e1
        |WHERE EXISTS (SELECT 1 FROM events e2 WHERE e2.event_type = 'error' AND e2.user_id = e1.user_id)""".stripMargin))
}
