package graft.cdc

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType, StructField, StringType, IntegerType, LongType}

import graft.functions.DebeziumDecimal
import graft.gen.TransactionGen
import graft.operators.{Materialize, Scd2}
import graft.util.{GQuery, Tables}

/** CDC operator surface registered with the driver (SURVEY.md §2A).
  * Streaming forms are spec-tested with MemoryStream (graft.streaming);
  * these batch forms pin the SAME semantics against the DuckDB oracle —
  * the expressions are identical, only the source differs.
  */
object CdcQueries {

  /** Envelope round-trip: orders → synthetic Debezium envelopes (JSON,
    * amount as `precise` base64 bytes) → parse → decimal decode →
    * last-write-wins apply with deletes. Exercises O7/O13 (JSON serde),
    * O16-O19 (envelope + precise decimal), O14/O18 (keyed apply) end to
    * end; the oracle recomputes the expected materialized state
    * relationally.
    */
  private val envelopeApply = GQuery("cdc_envelope_apply",
    (s, d) => {
      // single-row-group testdata scans as ONE partition; the JSON
      // round-trip + codec below is per-row-heavy, so spread first
      val orders = Tables.spread(Tables(s, d, "orders"))
      val amt = col("o_totalprice").cast(DecimalType(18, 2))
      def payload(amount: org.apache.spark.sql.Column) = struct(
        col("o_orderkey").cast("string").as("transaction_id"),
        struct(lit(2).as("scale"),
          base64(DebeziumDecimal.debeziumDecimalEncode(amount)).as("value")).as("amount"))
      val v1 = orders.select(
        lit(null).cast(payloadType).as("before"),
        payload(amt).as("after"),
        when(col("o_orderstatus") === "P", "d").otherwise("c").as("op"),
        lit(1000L).as("ts_ms"))
      val v2 = orders.filter(col("o_orderkey") % 2 === 0).select(
        payload(amt).as("before"),
        payload(amt + 10).as("after"),
        lit("u").as("op"),
        lit(2000L).as("ts_ms"))
      val wire = v1.unionByName(v2)
        .select(to_json(struct(col("before"), col("after"), col("op"), col("ts_ms"))).as("value"))

      val parsed = Envelope.parse(wire, payloadType)
      val rows = parsed
        .withColumn("__row", Envelope.currentImage)
        .select(col("op"), col("ts_ms"),
          col("__row.transaction_id").as("transaction_id"),
          DebeziumDecimal.fromMode("precise", col("__row.amount"), targetScale = 2)
            .as("amount_dec"))
      Materialize.applyCdc(rows,
          keys = Seq("transaction_id"), order = Seq(col("ts_ms")))
        .select(
          col("transaction_id").cast("bigint").as("orderkey"),
          col("op"),
          col("amount_dec").cast("double").as("amount"))
        .orderBy(col("orderkey"))
    },
    Some("""WITH ch AS (
        SELECT o_orderkey AS k, 1000 AS ts,
               CASE WHEN o_orderstatus = 'P' THEN 'd' ELSE 'c' END AS op,
               CAST(o_totalprice AS DECIMAL(18,2)) AS amt
        FROM orders
        UNION ALL
        SELECT o_orderkey, 2000, 'u', CAST(o_totalprice AS DECIMAL(18,2)) + 10
        FROM orders WHERE o_orderkey % 2 = 0),
      last AS (
        SELECT k, op, amt,
               row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn
        FROM ch)
      SELECT k AS orderkey, op, CAST(amt AS DOUBLE) AS amount
      FROM last WHERE rn = 1 AND op <> 'd' ORDER BY orderkey"""))

  private val payloadType: StructType = StructType(Seq(
    StructField("transaction_id", StringType),
    StructField("amount", StructType(Seq(
      StructField("scale", IntegerType),
      StructField("value", StringType))))))

  /** O19 `precise` codec in isolation: encode every lineitem price to
    * Debezium bytes and decode back; the oracle is the identity.
    */
  private val decimalRoundtrip = GQuery("cdc_decimal_roundtrip",
    (s, d) => {
      val li = Tables.spread(Tables(s, d, "lineitem"))
      val asDec = col("l_extendedprice").cast(DecimalType(18, 2))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // include `decoded` in the sort so the order is total (remaining
      // ties are fully identical rows).
      li.select(
        col("l_orderkey"), col("l_linenumber"),
        DebeziumDecimal.debeziumDecimalBinary(
          DebeziumDecimal.debeziumDecimalEncode(asDec), lit(2), targetScale = 2)
          .cast("double").as("decoded"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("decoded"))
    },
    Some("""SELECT l_orderkey, l_linenumber,
      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS decoded
      FROM lineitem ORDER BY l_orderkey, l_linenumber, decoded"""))

  /** O14/O18 batch materialization on the events stream table: latest
    * image per key, error events acting as tombstones.
    */
  private val applyOps = GQuery("cdc_apply_ops",
    (s, d) => {
      val ev = Tables(s, d, "events")
        .withColumn("op", when(col("event_type") === "error", "d").otherwise("u"))
      Materialize.applyCdc(ev,
          keys = Seq("user_id"), order = Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("value").as("last_value"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, event_id AS last_event_id, value AS last_value
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id"""))

  /** Trigger-2 change diff (O21): treat consecutive events per user as
    * before/after images; emit the reference's change_info JSONB shape
    * {col: {old, new}} for columns where new IS DISTINCT FROM old
    * (README.md:219-243, example :257-263). DuckDB builds the identical
    * minified JSON via json_merge_patch.
    */
  private val changeDiffQ = GQuery("cdc_change_diff",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ev = Tables(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k"))
        .withColumn("before",
          struct(lag(col("event_type"), 1).over(w).as("event_type"),
            lag(col("k"), 1).over(w).as("k")))
        .withColumn("after", struct(col("event_type"), col("k")))
        .filter(col("before.event_type").isNotNull)
      ev.select(col("event_id"), col("user_id"),
          ChangeDiff.changeInfoJson(col("before"), col("after"),
            Seq("event_type", "k")).as("change_info"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id,
      CAST(json_merge_patch(
        COALESCE(CASE WHEN prev_t IS DISTINCT FROM event_type
          THEN json_object('event_type', json_object('old', prev_t, 'new', event_type)) END, '{}'),
        COALESCE(CASE WHEN prev_k IS DISTINCT FROM k
          THEN json_object('k', json_object('old', prev_k, 'new', k)) END, '{}')
      ) AS VARCHAR) AS change_info
      FROM (SELECT event_id, user_id, event_type,
              json_extract_string(props, '$.k') AS k,
              lag(event_type) OVER w AS prev_t,
              lag(json_extract_string(props, '$.k')) OVER w AS prev_k
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id))
      WHERE prev_t IS NOT NULL ORDER BY event_id"""))

  /** One md5 hex slice as a BIGINT — DuckDB mirror of
    * TransactionGen.hashSlice (`conv(substring(hx, start, 6), 16, 10)`),
    * as a per-char polynomial (strpos over the hex alphabet, shifted).
    */
  private def duckHexSlice(start: Int): String =
    s"CAST(list_sum(list_transform(range(6), k -> " +
      s"CAST(strpos('0123456789abcdef', hx[$start+k]) - 1 AS BIGINT) " +
      s"* (1::BIGINT << CAST(4*(5-k) AS INT)))) AS BIGINT)"

  private def duckPick(values: Seq[String], h: String): String = {
    val arr = values.map(v => s"'$v'").mkString("[", ",", "]")
    s"($arr)[CAST(($h) % ${values.size} AS INT) + 1]"
  }

  /** DuckDB CTE regenerating TransactionGen.batch(n=10000, seed=42)
    * exactly: table `g` with the 12 transaction columns. The amount
    * decimal is built from integer cents via a string (DuckDB decimal
    * division detours through DOUBLE and would drift at scale 18).
    */
  private val duckGenCte: String = {
    val cities = Seq("Berlin", "Paris", "Tunis", "Lyon", "Hamburg",
      "Madrid", "Rome", "Vienna", "Prague", "Lisbon")
    val countries = Seq("Germany", "France", "Tunisia", "Spain",
      "Italy", "Austria", "Czechia", "Portugal")
    val merchants = Seq("Acme Corp", "Globex", "Initech", "Umbrella",
      "Soylent", "Stark Industries", "Wayne Enterprises", "Wonka")
    s"""WITH ids AS (SELECT unnest(range(10000)) AS id),
      h AS (SELECT id, md5('42:' || id) AS hx FROM ids),
      sl AS (SELECT id, hx, ${duckHexSlice(1)} AS h1,
             ${duckHexSlice(7)} AS h2, ${duckHexSlice(13)} AS h3 FROM h),
      c AS (SELECT hx, h1, h2, h3, h3 % 99001 + 1000 AS cents FROM sl),
      g AS (SELECT
        concat_ws('-', hx[1:8], hx[9:12], hx[13:16], hx[17:20], hx[21:32]) AS transaction_id,
        'user_' || (h1 % 10000) AS user_id,
        epoch_ms((1700000000 + (h2 % 2592000)) * 1000) AS "timestamp",
        CAST((cents // 100) || '.' || lpad(CAST(cents % 100 AS VARCHAR), 2, '0')
             AS DECIMAL(38,18)) AS amount,
        ${duckPick(Seq("EUR", "USD"), "h1+1")} AS currency,
        ${duckPick(cities, "h1+2")} AS city,
        ${duckPick(countries, "h1+3")} AS country,
        ${duckPick(merchants, "h2+1")} AS merchant_name,
        ${duckPick(Seq("credit_card", "debit_card", "online_transfer"), "h2+2")} AS payment_method,
        concat_ws('.', h1 % 256, h2 % 256, h3 % 256, (h1+h2) % 256) AS ip_address,
        ${duckPick(Seq("", "DISCOUNT10", ""), "h3+1")} AS voucher_code,
        md5('aff:' || hx) AS affiliate_id
      FROM c)"""
  }

  /** O1 generator, oracle-checked end to end: every one of the 12 fields
    * is md5-derived (TransactionGen.project), and DuckDB has md5 + string
    * slicing, so the oracle regenerates the identical rows.
    */
  private val genTransactions = GQuery("gen_transactions",
    (s, _) => TransactionGen.batch(s, 10000, seed = 42L)
      // canonicalize for the driver's hasher: raw decimal(38,18) hashes
      // differently from DuckDB's rendering even when every value matches
      // (proven in r2) — compare at wire scale as DOUBLE, like
      // cdc_envelope_apply does
      .withColumn("amount", col("amount").cast(DecimalType(18, 2)).cast("double"))
      .orderBy(col("transaction_id")),
    Some(s"$duckGenCte SELECT * REPLACE (CAST(amount AS DOUBLE) AS amount) " +
      "FROM g ORDER BY transaction_id"))

  /** Trigger-2 diff over the full transaction row: 14 diffed input
    * columns (12 payload + modified_by/modified_at audit) producing the
    * change_info 15th — the wide-schema case the native ChangeDiffJson
    * expression exists for
    * (SURVEY.md:149; to_json(map_filter(...)) is interpreted and drags at
    * this width). Before-image = the generator output with null audit
    * columns; after-image = deterministic rule mutations + the Trigger-1
    * audit stamp (README.md:190-191), so the oracle reproduces both
    * images from the gen CTE and builds the identical JSON.
    */
  private val changeDiffWide = GQuery("cdc_change_diff_wide",
    (s, _) => {
      import graft.model.Schemas
      val base = Tables.spread(TransactionGen.batch(s, 10000, seed = 42L))
        // amount at wire scale (18,2): decimal(38,18)+1 would shift the
        // result scale to 17 and break string parity with the oracle
        .withColumn("amount", col("amount").cast(DecimalType(18, 2)))
        .withColumn("modified_by", lit(null).cast("string"))
        .withColumn("modified_at", lit(null).cast("timestamp"))
      val fields = Schemas.transaction.fieldNames.toSeq ++
        Seq("modified_by", "modified_at")
      val mutate: Map[String, org.apache.spark.sql.Column] = Map(
        "amount" -> when(col("currency") === "EUR", col("amount") + 1)
          .otherwise(col("amount")),
        "city" -> when(col("user_id").endsWith("0"), lit("Metropolis"))
          .otherwise(col("city")),
        "payment_method" -> when(col("payment_method") === "online_transfer",
          lit("crypto")).otherwise(col("payment_method")),
        "voucher_code" -> when(col("voucher_code") === "DISCOUNT10",
          lit("DISCOUNT20")).otherwise(col("voucher_code")),
        "modified_by" -> lit("graft_etl"),
        "modified_at" -> lit("2024-01-01 00:00:00").cast("timestamp"))
      val before = struct(fields.map(f => col(f).as(f)): _*)
      val after = struct(fields.map(f =>
        mutate.getOrElse(f, col(f)).as(f)): _*)
      base.select(col("transaction_id"),
          ChangeDiff.changeInfoJson(before, after, fields).as("change_info"))
        .orderBy(col("transaction_id"))
    },
    // String-built JSON entries in struct-field order; concat_ws drops the
    // NULL (unchanged) entries, exactly matching the native expression's
    // "only columns where new IS DISTINCT FROM old" + ignore-null-fields
    // output contract.
    Some(s"""$duckGenCte
      SELECT transaction_id, '{' || concat_ws(',',
        CASE WHEN currency = 'EUR' THEN
          '"amount":{"old":"' || CAST(CAST(amount AS DECIMAL(18,2)) AS VARCHAR)
          || '","new":"' || CAST(CAST(amount AS DECIMAL(18,2)) + 1 AS VARCHAR) || '"}' END,
        CASE WHEN ends_with(user_id, '0') THEN
          '"city":{"old":"' || city || '","new":"Metropolis"}' END,
        CASE WHEN payment_method = 'online_transfer' THEN
          '"payment_method":{"old":"online_transfer","new":"crypto"}' END,
        CASE WHEN voucher_code = 'DISCOUNT10' THEN
          '"voucher_code":{"old":"DISCOUNT10","new":"DISCOUNT20"}' END,
        '"modified_by":{"new":"graft_etl"}',
        '"modified_at":{"new":"2024-01-01 00:00:00"}'
      ) || '}' AS change_info
      FROM g ORDER BY transaction_id"""))

  /** O14 as the reference actually runs it: ≥3 successive batches into
    * the bucket-pruned parquet sink (CdcPipeline.idempotentParquetUpsert)
    * with keys colliding BOTH across batches (first batch wins — the
    * `ON CONFLICT DO NOTHING` contract, transaction_consumer.py:85-103)
    * and within a batch (the o_orderkey tiebreak decides, deterministic
    * under replay). The oracle recomputes the final table relationally:
    * winner per key = min (batch index, o_orderkey).
    */
  private val incrementalUpsert = GQuery("cdc_incremental_upsert",
    (s, d) => {
      val path = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_inc_upsert").getAbsolutePath
      // clean slate: the sink is stateful on disk and this query may run
      // against different scale factors in one JVM
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val orders = Tables(s, d, "orders").select(
        (col("o_orderkey") % 500).as("k"),
        col("o_orderkey").as("okey"),
        col("o_totalprice").as("total"))
      (0 until 3).foreach { b =>
        val batch = orders.filter(col("okey") % 3 === b)
        // nBuckets sizes file-level pruning granularity per table; 16 is
        // plenty for the test-scale key space (64-bucket default is for
        // real tables)
        graft.streaming.CdcPipeline.idempotentParquetUpsert(
          s, batch, path, keys = Seq("k"), nBuckets = 16,
          tieBreak = Seq(col("okey")))
      }
      s.read.parquet(path)
        .select(col("k"), col("okey"), col("total"))
        .orderBy(col("k"))
    },
    Some("""SELECT k, okey, total FROM (
        SELECT o_orderkey % 500 AS k, o_orderkey AS okey,
               o_totalprice AS total,
               row_number() OVER (PARTITION BY o_orderkey % 500
                 ORDER BY o_orderkey % 3, o_orderkey) AS rn
        FROM orders) WHERE rn = 1 ORDER BY k"""))

  /** SCD Type-2 history over the events change log: each non-error event
    * opens a version of the user's row, the next change (or an error
    * event acting as a delete) closes it. Single shuffle on the key —
    * both windows share one partitioning (operators/Scd2.scala). The
    * oracle replays lead()/row_number() with the identical total order.
    */
  private val scd2History = GQuery("cdc_scd2_history",
    (s, d) => {
      val ev = Tables(s, d, "events")
        .withColumn("op", when(col("event_type") === "error", "d").otherwise("u"))
      Scd2.history(ev, keys = Seq("user_id"),
          order = Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("version"), col("event_id"), col("value"),
          col("valid_from"), col("valid_to"),
          col("is_current").cast("int").as("is_current"))
        .orderBy(col("user_id"), col("version"))
    },
    Some("""WITH o AS (
        SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        FROM events),
      w AS (
        SELECT *, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        FROM o)
      SELECT user_id,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version,
             event_id, value, ts AS valid_from, valid_to,
             CAST(valid_to IS NULL AS INT) AS is_current
      FROM w WHERE op <> 'd'
      ORDER BY user_id, version"""))

  /** Incremental aggregate maintenance (Materialize.deltaAggregate):
    * per-priority COUNT/SUM maintained purely from a synthetic CDC log
    * (insert all orders, update even keys +10, delete keys %7=0 with the
    * correct before-image). The oracle recomputes the aggregate from the
    * FINAL table state directly — delta-sum ≡ recompute is the identity
    * under test, the point being that at 100 TB only the deltas are ever
    * scanned.
    */
  private val incrementalAgg = GQuery("cdc_incremental_agg",
    (s, d) => {
      val orders = Tables(s, d, "orders")
      val dec = DecimalType(18, 2)
      val amt = col("o_totalprice").cast(dec)
      val nullDec = lit(null).cast(dec)
      val ins = orders.select(col("o_orderpriority").as("grp"),
        lit("c").as("op"), nullDec.as("before"), amt.as("after"))
      val upd = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderpriority").as("grp"), lit("u").as("op"),
          amt.as("before"), (amt + 10).cast(dec).as("after"))
      val del = orders.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderpriority").as("grp"), lit("d").as("op"),
          when(col("o_orderkey") % 2 === 0, amt + 10).otherwise(amt)
            .cast(dec).as("before"),
          nullDec.as("after"))
      Materialize.deltaAggregate(ins.unionByName(upd).unionByName(del),
          groupKeys = Seq("grp"), before = col("before"), after = col("after"))
        .orderBy(col("grp"))
    },
    Some("""SELECT o_orderpriority AS grp, count(*) AS live_cnt,
        CAST(sum(CASE WHEN o_orderkey % 2 = 0
            THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10
            ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS live_sum
      FROM orders WHERE o_orderkey % 7 <> 0
      GROUP BY 1 ORDER BY grp"""))

  /** Point-in-time ("time travel") read off the SCD2 history: the table
    * state as of T is the version row whose [valid_from, valid_to)
    * interval covers T. The oracle recomputes the same state DIRECTLY
    * from the log prefix (latest non-delete op ≤ T per key) — proving
    * the interval encoding reconstructs any historical state exactly,
    * which is the reason warehouses keep Type-2 history at all.
    */
  private val scd2Asof = GQuery("cdc_scd2_asof",
    (s, d) => {
      val T = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
      val ev = Tables(s, d, "events")
        .withColumn("op", when(col("event_type") === "error", "d").otherwise("u"))
      Scd2.history(ev, keys = Seq("user_id"),
          order = Seq(col("ts"), col("event_id")))
        .filter(col("valid_from") <= T &&
          (col("valid_to").isNull || col("valid_to") > T))
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, event_id, value FROM (
        SELECT user_id, event_id, value,
               CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        FROM events
        WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-15 00:00:00')
      WHERE rn = 1 AND op <> 'd' ORDER BY user_id"""))

  /** Build-once generational-IVM fixture: three delta batches (the
    * o_orderkey%3 slices, op='c') maintained into a generational
    * aggregate table — one published generation per batch, exactly
    * what a foreachBatch deployment produces. Memoized per dataset
    * dir: the maintenance loop is spec-proven and benched by
    * cdc_incremental_agg; the registered query times the HISTORY READ.
    */
  private def aggHistoryFixture(s: org.apache.spark.sql.SparkSession,
                                d: String): String =
    graft.util.TempFixtures.dir(s"agghist:$d") { path =>
      val orders = Tables(s, d, "orders")
      val dec = DecimalType(18, 2)
      val nullDec = lit(null).cast(dec)
      (0 to 2).foreach { m =>
        val batch = orders.filter(col("o_orderkey") % 3 === m)
          .select(col("o_orderpriority").as("grp"), lit("c").as("op"),
            nullDec.as("before"), col("o_totalprice").cast(dec).as("after"))
        Materialize.maintainAggregate(s, path, batch,
          groupKeys = Seq("grp"), before = col("before"),
          after = col("after"), batchId = Some(m.toLong))
      }
    }

  /** Aggregate-state TIME TRAVEL — the synthesis of generational IVM
    * (each maintained batch publishes one immutable generation) and
    * [[graft.sources.Compaction.readTableAt]]: the maintained
    * aggregate AS OF every publish still in the retention window, the
    * audit view "what did the rollup say before the last batch
    * landed". The rank-based prune retires generation 1, so the
    * readable history is exactly the two most recent states; the
    * oracle recomputes both from the corresponding delta prefixes.
    */
  private val aggTimeTravel = GQuery("cdc_agg_time_travel",
    (s, d) => {
      import graft.sources.Compaction
      val path = aggHistoryFixture(s, d)
      val gens = Compaction.generations(s, path)
      require(gens.length == 2,
        s"retention window must hold exactly 2 generations, got $gens")
      gens.sorted.zipWithIndex.map { case (g, i) =>
        Compaction.readTableAt(s, path, g)
          .select(lit(i + 1).as("gen_rank"), col("grp"),
            col("live_cnt"), col("live_sum").cast("double").as("live_sum"))
      }.reduce(_.unionByName(_)).orderBy(col("gen_rank"), col("grp"))
    },
    Some("""SELECT 1 AS gen_rank, o_orderpriority AS grp, count(*) AS live_cnt,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS live_sum
      FROM orders WHERE o_orderkey % 3 <= 1 GROUP BY 2
      UNION ALL
      SELECT 2, o_orderpriority, count(*),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM orders GROUP BY 2
      ORDER BY gen_rank, grp"""))

  /** Two-publish fixture for the generation-diff change feed: gen 1 is
    * the deterministically DRIFTED twin (q85_table_reconcile's drift
    * shapes — %97 keys missing, %101 prices bumped, %103 re-inserted
    * under key+10M), gen 2 the true orders table. Memoized per dataset
    * dir; the registered query times the diff join.
    */
  private def genFeedFixture(s: org.apache.spark.sql.SparkSession,
                             d: String): String =
    graft.util.TempFixtures.dir(s"genfeed:$d") { path =>
      import graft.sources.Compaction
      val orders = Tables(s, d, "orders")
      val key = col("o_orderkey")
      val drifted = orders.filter(key % 97 =!= 0)
        .withColumn("o_totalprice",
          when(key % 101 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(orders.filter(key % 103 === 0)
          .withColumn("o_orderkey", key + 10000000L))
      Compaction.writeGen(drifted, path)
      Compaction.writeGen(orders, path)
    }

  /** Change feed BETWEEN generations — time travel turned into a CDC
    * source ([[graft.sources.Compaction.generationDiff]]): the
    * Debezium-shaped log (op c/u/d, before/after) a consumer replays
    * to move from the older retained snapshot to the newer one,
    * derived by one full outer join on the key. Deletes are the
    * drifted twin's phantom re-inserts, inserts its missing keys,
    * updates its price bumps — all three ops exercised and the oracle
    * replays drift, join and classification.
    */
  private val generationFeed = GQuery("cdc_generation_feed",
    (s, d) => {
      import graft.sources.Compaction
      val path = genFeedFixture(s, d)
      val gens = Compaction.generations(s, path).sorted
      require(gens.length == 2, s"expected 2 retained generations: $gens")
      Compaction.generationDiff(s, path, gens(0), gens(1), Seq("o_orderkey"))
        .select(col("o_orderkey"), col("op"),
          floor(col("before.o_totalprice") * 100).cast("long").as("before_cents"),
          floor(col("after.o_totalprice") * 100).cast("long").as("after_cents"))
        .orderBy(col("o_orderkey"))
    },
    Some("""WITH a AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
               ELSE o_totalprice END AS p
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice
        FROM orders WHERE o_orderkey % 103 = 0),
      j AS (
        SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
          CASE WHEN a.o_orderkey IS NULL THEN 'c'
               WHEN b.o_orderkey IS NULL THEN 'd'
               WHEN a.p <> b.o_totalprice THEN 'u' END AS op,
          CAST(floor(a.p * 100) AS BIGINT) AS before_cents,
          CAST(floor(b.o_totalprice * 100) AS BIGINT) AS after_cents
        FROM a FULL OUTER JOIN orders b ON a.o_orderkey = b.o_orderkey)
      SELECT * FROM j WHERE op IS NOT NULL ORDER BY o_orderkey"""))

  /** The CURSOR-TAILED feed ([[graft.sources.Compaction.changeFeedNext]]
    * / [[graft.sources.Compaction.advanceFeedCursor]]): the full
    * consumer walk over the two-publish fixture, re-run per invocation
    * against a FRESH cursor dir (the memoized table is never mutated)
    * — step 1 is the initial snapshot of the drifted generation (every
    * row a create, the Debezium snapshot convention), step 2 the
    * c/u/d diff to current, and a third poll must return None. The
    * oracle replays the drift, the snapshot, and the diff closed-form.
    * Delivery-contract edges (idempotent redelivery before advance,
    * second-consumer advance rejected, out-of-retention cursor loud)
    * are pinned in OperatorsSpec.
    */
  private val changeFeedCursor = GQuery("cdc_change_feed_cursor",
    (s, d) => {
      import graft.sources.Compaction
      // self-contained per invocation (NOT the memoized fixture): the
      // walk must interleave with the publishes — snapshot while the
      // drifted generation is current, then diff after the second
      // publish — so the query pays the real consumer cost each run:
      // two publishes + snapshot + diff + three cursor steps
      val root = java.nio.file.Files
        .createTempDirectory("graft_feedwalk").toString
      val path = root + "/tbl"; val cursor = root + "/cursor"
      val orders = Tables(s, d, "orders")
      val key = col("o_orderkey")
      val drifted = orders.filter(key % 97 =!= 0)
        .withColumn("o_totalprice",
          when(key % 101 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(orders.filter(key % 103 === 0)
          .withColumn("o_orderkey", key + 10000000L))
      def cents(c: org.apache.spark.sql.Column) =
        floor(c * 100).cast("long")
      def shape(step: Int, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(step).as("step"), col("o_orderkey"), col("op"),
          cents(col("before.o_totalprice")).as("before_cents"),
          cents(col("after.o_totalprice")).as("after_cents"))
      graft.sources.Compaction.writeGen(drifted, path) // g1 current
      val s1 = Compaction.changeFeedNext(s, path, cursor,
        Seq("o_orderkey")).get // initial snapshot OF THE DRIFTED STATE
      Compaction.advanceFeedCursor(s, cursor, s1.fromGen, s1.toGen)
      graft.sources.Compaction.writeGen(orders, path) // g2 publishes
      val s2 = Compaction.changeFeedNext(s, path, cursor,
        Seq("o_orderkey")).get // the c/u/d window g1 -> g2
      Compaction.advanceFeedCursor(s, cursor, s2.fromGen, s2.toGen)
      // a third poll is empty: the cursor is caught up
      require(Compaction.changeFeedNext(s, path, cursor,
        Seq("o_orderkey")).isEmpty, "caught-up poll must return None")
      require(s1.fromGen.isEmpty && s2.fromGen.contains(s1.toGen),
        s"windows must chain: $s1 -> $s2")
      shape(1, s1.changes).unionByName(shape(2, s2.changes))
        .orderBy(col("step"), col("o_orderkey"))
    },
    Some("""WITH a AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
               ELSE o_totalprice END AS p
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice
        FROM orders WHERE o_orderkey % 103 = 0),
      snap AS (
        SELECT 1 AS step, o_orderkey, 'c' AS op,
          CAST(NULL AS BIGINT) AS before_cents,
          CAST(floor(p * 100) AS BIGINT) AS after_cents
        FROM a),
      j AS (
        SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
          CASE WHEN a.o_orderkey IS NULL THEN 'c'
               WHEN b.o_orderkey IS NULL THEN 'd'
               WHEN a.p <> b.o_totalprice THEN 'u' END AS op,
          CAST(floor(a.p * 100) AS BIGINT) AS before_cents,
          CAST(floor(b.o_totalprice * 100) AS BIGINT) AS after_cents
        FROM a FULL OUTER JOIN orders b ON a.o_orderkey = b.o_orderkey),
      d2 AS (
        SELECT 2 AS step, o_orderkey, op, before_cents, after_cents
        FROM j WHERE op IS NOT NULL)
      SELECT * FROM snap UNION ALL SELECT * FROM d2
      ORDER BY step, o_orderkey"""))

  /** MULTI-CONSUMER feed (r16 verdict #3): named cursor groups over
    * one cursorDir, each its own CAS chain — Kafka's consumer-group
    * story on the generational layout. The walk interleaves two
    * groups at different paces: 'fast' snapshots the drifted g1 and
    * then consumes the g1→g2 diff; 'slow' first polls only after g2
    * and gets the CURRENT snapshot (it never replays history it
    * didn't cursor through). Both end caught-up. Independence,
    * same-from advance serialization, and the legacy-marker migration
    * are spec-pinned (OperatorsSpec).
    */
  private val changeFeedGroups = GQuery("cdc_change_feed_groups",
    (s, d) => {
      import graft.sources.Compaction
      val root = java.nio.file.Files
        .createTempDirectory("graft_feedgrp").toString
      val path = root + "/tbl"; val cursor = root + "/cursor"
      val orders = Tables(s, d, "orders")
      val key = col("o_orderkey")
      val drifted = orders.filter(key % 97 =!= 0)
        .withColumn("o_totalprice",
          when(key % 101 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(orders.filter(key % 103 === 0)
          .withColumn("o_orderkey", key + 10000000L))
      def cents(c: org.apache.spark.sql.Column) =
        floor(c * 100).cast("long")
      def shape(grp: String, step: Int, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(grp).as("grp"), lit(step).as("step"),
          col("o_orderkey"), col("op"),
          cents(col("before.o_totalprice")).as("before_cents"),
          cents(col("after.o_totalprice")).as("after_cents"))
      val k = Seq("o_orderkey")
      Compaction.writeGen(drifted, path) // g1
      val f1 = Compaction.changeFeedNext(s, path, cursor, k, "fast").get
      Compaction.advanceFeedCursor(s, cursor, f1.fromGen, f1.toGen, "fast")
      Compaction.writeGen(orders, path) // g2
      val f2 = Compaction.changeFeedNext(s, path, cursor, k, "fast").get
      Compaction.advanceFeedCursor(s, cursor, f2.fromGen, f2.toGen, "fast")
      val s1 = Compaction.changeFeedNext(s, path, cursor, k, "slow").get
      Compaction.advanceFeedCursor(s, cursor, s1.fromGen, s1.toGen, "slow")
      require(Compaction.changeFeedNext(s, path, cursor, k, "fast").isEmpty
          && Compaction.changeFeedNext(s, path, cursor, k, "slow").isEmpty,
        "both groups must be caught up")
      require(s1.fromGen.isEmpty && s1.toGen == f2.toGen,
        s"slow's first poll is the CURRENT snapshot: $s1")
      shape("fast", 1, f1.changes)
        .unionByName(shape("fast", 2, f2.changes))
        .unionByName(shape("slow", 1, s1.changes))
        .orderBy(col("grp"), col("step"), col("o_orderkey"))
    },
    Some("""WITH a AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
               ELSE o_totalprice END AS p
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice
        FROM orders WHERE o_orderkey % 103 = 0),
      snapd AS (
        SELECT 'fast' AS grp, 1 AS step, o_orderkey, 'c' AS op,
          CAST(NULL AS BIGINT) AS before_cents,
          CAST(floor(p * 100) AS BIGINT) AS after_cents
        FROM a),
      j AS (
        SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
          CASE WHEN a.o_orderkey IS NULL THEN 'c'
               WHEN b.o_orderkey IS NULL THEN 'd'
               WHEN a.p <> b.o_totalprice THEN 'u' END AS op,
          CAST(floor(a.p * 100) AS BIGINT) AS before_cents,
          CAST(floor(b.o_totalprice * 100) AS BIGINT) AS after_cents
        FROM a FULL OUTER JOIN orders b ON a.o_orderkey = b.o_orderkey),
      d2 AS (
        SELECT 'fast' AS grp, 2 AS step, o_orderkey, op, before_cents,
          after_cents
        FROM j WHERE op IS NOT NULL),
      snapo AS (
        SELECT 'slow' AS grp, 1 AS step, o_orderkey, 'c' AS op,
          CAST(NULL AS BIGINT) AS before_cents,
          CAST(floor(o_totalprice * 100) AS BIGINT) AS after_cents
        FROM orders)
      SELECT * FROM snapd
      UNION ALL SELECT * FROM d2
      UNION ALL SELECT * FROM snapo
      ORDER BY grp, step, o_orderkey"""))

  private val streamFeedRuns = new java.util.concurrent.atomic.AtomicInteger

  /** The change feed as a NATIVE streaming source (r16 verdict #5):
    * `spark.readStream.format("graft")` with a parquet sink, drained
    * with Trigger.AvailableNow THREE times against ONE checkpoint with
    * a publish between drains — the reference's whole consumer loop
    * (poll → decode → apply → commit offset,
    * transaction_consumer.py:72-103) as restart-resumed Structured
    * Streaming. Drain 1 = initial snapshot of g1, drain 2 = the g1→g2
    * diff, drain 3 = the g2→g3 diff; the CHECKPOINT is the durable
    * cursor (each drain is a fresh query resuming from the WAL). The
    * oracle replays all three windows closed-form.
    */
  private val streamFeed = GQuery("cdc_stream_feed",
    (s, d) => {
      import graft.sources.Compaction
      val root = java.nio.file.Files
        .createTempDirectory("graft_sfeed").toString
      val path = root + "/tbl"; val ckpt = root + "/ckpt"
      val run = streamFeedRuns.incrementAndGet()
      val orders = Tables(s, d, "orders")
      val key = col("o_orderkey")
      val drifted = orders.filter(key % 97 =!= 0)
        .withColumn("o_totalprice",
          when(key % 101 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(orders.filter(key % 103 === 0)
          .withColumn("o_orderkey", key + 10000000L))
      val third = orders.filter(key % 89 =!= 0)
        .withColumn("o_totalprice",
          when(key % 83 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      def drain(step: Int): String = {
        val out = root + s"/out$step"
        // foreachBatch + per-window overwrite, NOT the parquet file
        // sink: the file sink's _spark_metadata log is per-PATH while
        // batch ids are per-CHECKPOINT, so a second drain into a fresh
        // path writes batch 1 into a log that expects batch 0 and the
        // read-back fails. The overwrite is the feed's idempotent-
        // redelivery contract made literal (keyed by window).
        val q = s.readStream.format("graft")
          .option("keyColumns", "o_orderkey").load(path)
          .writeStream
          .option("checkpointLocation", ckpt)
          .queryName(s"graft_sfeed_${run}_$step")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("overwrite").parquet(out); ()
          }
          .start()
        q.awaitTermination(300000L)
        require(!q.isActive, s"drain $step did not finish")
        out
      }
      def cents(c: org.apache.spark.sql.Column) =
        floor(c * 100).cast("long")
      def shape(step: Int, out: String) =
        s.read.parquet(out).select(lit(step).as("step"),
          col("o_orderkey"), col("op"),
          cents(col("before.o_totalprice")).as("before_cents"),
          cents(col("after.o_totalprice")).as("after_cents"))
      Compaction.writeGen(drifted, path) // g1
      val o1 = drain(1) // snapshot of the drifted state
      Compaction.writeGen(orders, path) // g2
      val o2 = drain(2) // diff g1 -> g2
      Compaction.writeGen(third, path) // g3
      val o3 = drain(3) // diff g2 -> g3
      shape(1, o1).unionByName(shape(2, o2)).unionByName(shape(3, o3))
        .orderBy(col("step"), col("o_orderkey"))
    },
    Some("""WITH a AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
               ELSE o_totalprice END AS p
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice
        FROM orders WHERE o_orderkey % 103 = 0),
      snap AS (
        SELECT 1 AS step, o_orderkey, 'c' AS op,
          CAST(NULL AS BIGINT) AS before_cents,
          CAST(floor(p * 100) AS BIGINT) AS after_cents
        FROM a),
      j AS (
        SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
          CASE WHEN a.o_orderkey IS NULL THEN 'c'
               WHEN b.o_orderkey IS NULL THEN 'd'
               WHEN a.p <> b.o_totalprice THEN 'u' END AS op,
          CAST(floor(a.p * 100) AS BIGINT) AS before_cents,
          CAST(floor(b.o_totalprice * 100) AS BIGINT) AS after_cents
        FROM a FULL OUTER JOIN orders b ON a.o_orderkey = b.o_orderkey),
      d2 AS (
        SELECT 2 AS step, o_orderkey, op, before_cents, after_cents
        FROM j WHERE op IS NOT NULL),
      c3 AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 83 = 0 THEN o_totalprice + 1.0
               ELSE o_totalprice END AS p
        FROM orders WHERE o_orderkey % 89 <> 0),
      j3 AS (
        SELECT COALESCE(c3.o_orderkey, b.o_orderkey) AS o_orderkey,
          CASE WHEN b.o_orderkey IS NULL THEN 'c'
               WHEN c3.o_orderkey IS NULL THEN 'd'
               WHEN b.o_totalprice <> c3.p THEN 'u' END AS op,
          CAST(floor(b.o_totalprice * 100) AS BIGINT) AS before_cents,
          CAST(floor(c3.p * 100) AS BIGINT) AS after_cents
        FROM c3 FULL OUTER JOIN orders b ON c3.o_orderkey = b.o_orderkey),
      d3 AS (
        SELECT 3 AS step, o_orderkey, op, before_cents, after_cents
        FROM j3 WHERE op IS NOT NULL)
      SELECT * FROM snap
      UNION ALL SELECT * FROM d2
      UNION ALL SELECT * FROM d3
      ORDER BY step, o_orderkey"""))

  /** The streaming WRITE face ([[graft.sources.GraftStreamSink]]):
    * `writeStream.format("graft")` publishes ONE generation per
    * micro-batch with an in-generation batch sidecar for
    * effectively-once redelivery — the reference's idempotent consumer
    * sink (O14, transaction_consumer.py:85-103) as a native sink on
    * the generational table. Two MemoryStream batches (even/odd
    * custkeys) through one continuous query; the read-back must equal
    * the plain customer projection. Redelivery skip, checkpoint
    * resume, sidecar survival across interleaved INSERTs, and Complete
    * mode are spec-pinned (GraftStreamSinkSpec).
    */
  private val streamSink = GQuery("cdc_stream_sink",
    (s, d) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_ssinkq").toString
      val t = root + "/tbl"
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val cust = Tables(s, d, "customer").select(
        col("c_custkey").cast("long"),
        col("c_nationkey").cast("long"),
        floor(col("c_acctbal") * 100).cast("long"))
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val q = input.toDS().toDF("c_custkey", "c_nationkey", "cents")
        .writeStream.format("graft")
        .option("checkpointLocation", root + "/ckpt")
        .start(t)
      try {
        // MemoryStream TRANSPORT harness collect (LlmShared doctrine):
        // a real deployment's batches arrive via readStream and never
        // touch the driver; the sink's publish path is distributed
        def slice(m: Int) = cust.filter(col("c_custkey") % 2 === m)
          .as[(Long, Long, Long)].collect().toSeq
        input.addData(slice(0): _*)
        q.processAllAvailable()
        input.addData(slice(1): _*)
        q.processAllAvailable()
      } finally q.stop()
      require(graft.sources.Compaction.generations(s, t) == Seq(1L, 2L),
        "each batch publishes one generation")
      graft.sources.Compaction.readTable(s, t).orderBy(col("c_custkey"))
    },
    Some("""SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
        CAST(c_nationkey AS BIGINT) AS c_nationkey,
        CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer ORDER BY c_custkey"""))

  val queries: Seq[GQuery] = Seq(
    envelopeApply, decimalRoundtrip, applyOps, changeDiffQ, genTransactions,
    changeDiffWide, incrementalUpsert, scd2History, incrementalAgg, scd2Asof,
    aggTimeTravel, generationFeed, changeFeedCursor, changeFeedGroups,
    streamFeed, streamSink)
}
