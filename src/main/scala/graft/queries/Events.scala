package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics in batch form over the `events` table —
  * tumbling windows, sessionization, JSON prop extraction, funnels.
  * The streaming twins (Structured Streaming with watermarks and
  * mapGroupsWithState) live in [[graft.streaming.EventStreams]]; batch
  * and stream share the same aggregation shapes, and these batch
  * versions carry the DuckDB oracles.
  */
object Events {

  /** Stage `events.parquet` plus one sentinel event PER `sentinelTypes`
    * entry, 4h past max event time, into a fresh stream-input
    * directory, run `job` over it as a Structured Streaming query
    * (parquet file sink, append mode, Trigger.AvailableNow), and read
    * the sink back. The sentinels drive the watermark past every real
    * window/session so append mode emits them all, while their own
    * windows/sessions stay open and self-exclude (user_id/event_id =
    * -1; default event_type `__flush__`).
    *
    * Queries that filter the stream by event_type BEFORE the join need
    * TYPED sentinels (e.g. Seq("click", "purchase")): Catalyst pushes
    * deterministic filters below EventTimeWatermark, so an untyped
    * sentinel is dropped before it ever reaches the watermark operator
    * and the stream's tail stays unemittable — found by q149, whose
    * last `window + delay` of outer-join nulls silently went missing
    * under the `__flush__` sentinel.
    */
  private def runStreamWithFlush(s: SparkSession, d: String, name: String,
      sentinelTypes: Seq[String] = Seq("__flush__"))(
      job: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = Fixtures.fresh(s"/tmp/graft_stream/${new java.io.File(d).getName}_$name")
    val in = s"$base/in"
    val out = s"$base/out"
    // Normalize through the batch loader (ts → timestamp_ntz regardless
    // of the on-disk physical type — see Tables.events), so the staged
    // stream input always carries a µs timestamp and the sentinel math
    // is type-stable across testdata generations.
    val raw = Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val maxRow = raw.agg(max(col("ts"))).head()
    // empty table → max(ts) is null: stage as-is (nothing to flush)
    val staged = if (maxRow.isNullAt(0)) raw else {
      val flushTs = maxRow.getAs[java.time.LocalDateTime](0).plusHours(4)
      val sentinels = sentinelTypes.map { tpe =>
        s.range(1).select(
          lit(-1L).as("event_id"),
          lit(flushTs).as("ts"),
          lit(-1L).as("user_id"), lit(tpe).as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
      }.reduce(_ unionByName _)
      raw.unionByName(sentinels)
    }
    staged.write.mode("overwrite").parquet(in)
    val stream = job(graft.streaming.EventStreams.readEventStream(s, in))
    val q = stream
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // zero input rows → the sink may never commit a file; read with the
    // stream's schema so the empty case yields an empty frame, not a
    // schema-inference failure
    val hasParts = Option(new java.io.File(out).listFiles())
      .exists(_.exists(_.getName.endsWith(".parquet")))
    if (hasParts) s.read.parquet(out)
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      stream.schema)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Linear interpolation on a regular grid (q336, r12): per user, a
    // 6-hour bucket spine over the observed range; each bucket takes
    // pv + (nv−pv)·(t−pt)/(nt−pt) between its nearest past and future
    // observations (strict interior — edges stay null). One shuffle,
    // two window passes; the oracle replays the same union-window
    // carries with identical tie rules.
    "q336_interpolate" -> { (s, d) =>
      graft.operators.Joins.interpolateLinear(Tables.events(s, d),
        "user_id", "ts", "value", stepSeconds = 21600L)
    },

    // Batch/stream PARITY under the oracle (not just StreamingSpec):
    // q40's windowed aggregation executed by Structured Streaming —
    // file source → watermarked window agg → parquet file sink (append
    // mode, Trigger.AvailableNow) → read back. Append mode only emits
    // watermark-FINALIZED windows, so the staged input carries the
    // __flush__ sentinel: the 2h-delay watermark then passes every real
    // window while the sentinel's own window stays open and
    // self-excludes. Oracle = q40's SQL, so the result set is proven
    // identical across engines AND execution modes.
    "q86_stream_parity" -> { (s, d) =>
      runStreamWithFlush(s, d, "win")(
        graft.streaming.EventStreams.windowedCounts(_))
        .filter(col("event_type") =!= "__flush__")
    },

    // transformWithState (q294): per-user RUNNING counts through the
    // Spark-4 arbitrary-state v2 API (typed ValueState, RocksDB
    // provider). maxFilesPerTrigger=1 over a 4-file stage forces the
    // state to accumulate across >= 4 micro-batches; running totals
    // are monotone, so max(n_events) per user == the final count ==
    // the batch groupBy — the oracle — regardless of batching.
    "q294_tws_running_counts" -> { (s, d) =>
      import org.apache.spark.sql.streaming.Trigger
      val base = Fixtures.fresh(
        s"/tmp/graft_stream/${new java.io.File(d).getName}_tws")
      val in = s"$base/in"
      val out = s"$base/out"
      val staged = Tables.events(s, d).select(col("user_id").cast("long"))
      staged.repartition(4).write.mode("overwrite").parquet(in)
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        val src = s.readStream.schema(staged.schema)
          .option("maxFilesPerTrigger", "1").parquet(in)
        val q = graft.streaming.EventStreams.runningCounts(s, src).toDF()
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", s"$base/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally {
        prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      }
      s.read.parquet(out).groupBy("user_id")
        .agg(max("n_events").as("n_events"))
    },

    // Batch/stream parity for the STATEFUL path: the event-time
    // sessionizer (flatMapGroupsWithState + EventTimeTimeout) over the
    // full events table. The sentinel advances the watermark 4h past max
    // event time, so every real session's last+gap timeout fires in the
    // trailing no-data micro-batch and append mode emits it; state is µs
    // precise end-to-end (see EventStreams.SessionState). Oracle = the
    // q41 lag+cumsum sessionization extended with per-session min/max ts
    // — proving the stateful streaming execution reproduces the batch
    // window-function derivation cross-engine.
    "q87_session_stream" -> { (s, d) =>
      runStreamWithFlush(s, d, "sess") { ev =>
        graft.streaming.EventStreams.sessionize(s, ev).toDF()
      }
        .filter(col("user_id") >= 0L)
        .select(col("user_id"),
          col("start_ts").cast("timestamp_ntz").as("start_ts"),
          col("end_ts").cast("timestamp_ntz").as("end_ts"),
          col("n_events"), round(col("total"), 2).as("total"))
    },

    // Stream-stream inner join under the oracle: clicks joined to the
    // same user's purchases within 1h, executed by Structured Streaming
    // (two watermarked streams, time-bounded join state) and checked
    // against the batch time-bounded join SQL.
    "q99_stream_join" -> { (s, d) =>
      runStreamWithFlush(s, d, "ssj")(
        graft.streaming.EventStreams.clickPurchaseJoin(_))
    },

    // Streaming MATERIALIZED VIEW (q169): update-mode aggregation →
    // foreachBatch upsert → manifest-snapshot table — the classic
    // incrementally-maintained rollup, composed from three shipped
    // primitives (update-mode streaming agg emits the keys whose
    // cumulative value changed this micro-batch; Corpus.snapshotMerge
    // upserts them; Layout.snapshotWrite commits each version
    // atomically). Two time-split micro-batches force a real second
    // upsert over recovered agg state; the final snapshot must equal
    // the batch aggregation over everything.
    "q169_stream_matview" -> { (s, d) =>
      import org.apache.spark.sql.streaming.Trigger
      val base = Fixtures.fresh(s"/tmp/graft_stream/${new java.io.File(d).getName}_mv")
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val cut = lit("2024-01-16 00:00:00").cast("timestamp_ntz")
      def stage(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = s"$base/tmp_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        new java.io.File(s"$base/in").mkdirs()
        val dest = new java.io.File(s"$base/in/$name.parquet")
        java.nio.file.Files.copy(part.toPath, dest.toPath)
        dest.setLastModified(mtime)
      }
      val t0 = 1700000000000L
      stage(ev.filter(col("ts") < cut), "half0", t0)
      stage(ev.filter(col("ts") >= cut), "half1", t0 + 60000L)
      val tbl = s"$base/mv"
      val stream = graft.streaming.EventStreams.readEventStream(s, s"$base/in",
        Map("maxFilesPerTrigger" -> "1")) // one file per micro-batch
      val q = stream
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val current =
            if (new java.io.File(tbl).exists())
              graft.operators.Layout.snapshotRead(s, tbl)
            else batch.limit(0)
          graft.operators.Layout.snapshotWrite(
            graft.operators.Corpus.snapshotMerge(current, batch, "event_type"),
            tbl)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.operators.Layout.snapshotRead(s, tbl)
    },

    // Rows-frame rolling aggregate (q166): per-user trailing-3 sum in
    // event order — the explicit ROWS BETWEEN frame (q98's rolling DAU
    // uses a range self-join; this is the window-frame form). Ordered
    // by (ts, event_id) so ties are deterministic cross-engine.
    "q166_rolling_window" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, 0)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .select(col("event_id"), col("user_id"),
          round(sum(col("value")).over(w), 2).as("roll3"))
    },

    // Checkpoint RECOVERY (q162): the same windowed aggregation run as
    // TWO separate streaming queries sharing one checkpoint — run 1
    // consumes the first half of the timeline and stops; run 2 starts
    // fresh from the checkpoint, consumes the rest (+ flush sentinel).
    // Windows spanning the restart boundary must merge state recovered
    // from the checkpoint with run-2 events, and append mode must emit
    // every window exactly once across both runs. Oracle = the batch
    // aggregation over the whole table: any double-emit, gap, or lost
    // state breaks the hash.
    "q162_stream_recovery" -> { (s, d) =>
      import org.apache.spark.sql.streaming.Trigger
      val base = Fixtures.fresh(s"/tmp/graft_stream/${new java.io.File(d).getName}_recov")
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val cut = lit("2024-01-16 00:00:00").cast("timestamp_ntz")
      val maxRow = ev.agg(max(col("ts"))).head()
      val flushTs = maxRow.getAs[java.time.LocalDateTime](0).plusHours(4)
      val sentinel = s.range(1).select(
        lit(-1L).as("event_id"), lit(flushTs).as("ts"),
        lit(-1L).as("user_id"), lit("__flush__").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      def stage(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = s"$base/tmp_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        new java.io.File(s"$base/in").mkdirs()
        val dest = new java.io.File(s"$base/in/$name.parquet")
        java.nio.file.Files.copy(part.toPath, dest.toPath)
        dest.setLastModified(mtime)
      }
      def runOnce(): Unit = {
        val stream = graft.streaming.EventStreams.readEventStream(s, s"$base/in")
        val q = graft.streaming.EventStreams.windowedCounts(stream)
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val t0 = 1700000000000L
      stage(ev.filter(col("ts") < cut), "half0", t0)
      runOnce() // first run: early windows finalize and emit
      stage(ev.filter(col("ts") >= cut).unionByName(sentinel), "half1",
        t0 + 60000L)
      runOnce() // restart from checkpoint: boundary + late windows emit
      s.read.parquet(s"$base/out")
        .filter(col("event_type") =!= "__flush__")
        .select("win", "event_type", "n", "total")
    },

    // Stream-STATIC join (q158): the enrichment shape — a streaming
    // fact joined per micro-batch to a static dimension (stateless,
    // append-safe; at scale the dim broadcasts and re-resolves per
    // batch, which is how slowly-changing lookups stay fresh without
    // restarting the query). Purchases enrich with the customer
    // segment keyed by user_id mod 150; the aggregation happens on the
    // sink read-back — a streaming groupBy would need update mode, and
    // the enrichment itself is the feature under test.
    "q158_stream_static_join" -> { (s, d) =>
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      runStreamWithFlush(s, d, "ssj2") { ev =>
        ev.filter(col("event_type") === "purchase")
          .withColumn("c_custkey", pmod(col("user_id"), lit(150L)) + 1L)
          .join(broadcast(cust), "c_custkey")
          .select(col("event_id"), col("c_mktsegment"), col("value"))
      }
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    },

    // Streaming exactly-once dedup under the oracle (q156): the input
    // stream is SELF-UNIONED — every event arrives twice in the same
    // micro-batch (an at-least-once bus replay) — and
    // dropDuplicatesWithinWatermark(event_id) must emit each exactly
    // once. Oracle = the plain events table: output == input proves
    // the replay was fully absorbed.
    "q156_stream_dedup" -> { (s, d) =>
      runStreamWithFlush(s, d, "sdd") { ev =>
        graft.streaming.EventStreams.dedupStream(
          ev.unionByName(ev), "event_id")
      }
        .filter(col("event_type") =!= "__flush__")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    },

    // Stream-stream LEFT OUTER join (q149): unmatched clicks emit with
    // NULL purchase columns only once the watermark proves conversion
    // impossible. TYPED sentinels (one click, one purchase at user -1)
    // pass the per-side type filters and push both watermark operators
    // 4h past max event time, so every real click's 1h join window has
    // provably closed and append mode emits the full outer result; the
    // sentinel pair matches only itself and is dropped by the user_id
    // filter. Oracle = the batch LEFT JOIN, proving watermark-deferred
    // null emission converges to exactly the batch outer-join
    // semantics.
    "q149_stream_outer_join" -> { (s, d) =>
      runStreamWithFlush(s, d, "ssoj", Seq("click", "purchase"))(
        graft.streaming.EventStreams.clickPurchaseOuterJoin(_))
        .filter(col("user_id") >= 0L)
    },

    // 7-day rolling distinct users per day — the retention/DAU shape.
    // Exact rolling distinct via contribution explode: each (day, user)
    // row contributes to the 7 target days it is visible from, then one
    // distinct aggregation per target day — no O(days²) self-join, and
    // the day spine join is a broadcast.
    "q98_rolling_dau" -> { (s, d) =>
      // both the spine and the contribution explode read du — checkpoint
      // so the scan+distinct shuffle runs once
      val du = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
        .localCheckpoint()
      val spine = du.select("day").distinct()
      val contrib = du
        .select(explode(sequence(lit(0), lit(6))).as("off"),
          col("day"), col("user_id"))
        .select(date_add(col("day"), col("off")).as("day"), col("user_id"))
      contrib.join(broadcast(spine), "day")
        .groupBy("day")
        .agg(count_distinct(col("user_id")).as("dau7"))
        .select(col("day").cast("timestamp_ntz").as("day"), col("dau7"))
    },

    // Session semantics executed a THIRD way: Spark's built-in
    // session_window operator (q41 = manual lag+cumsum, q87 = stateful
    // streaming, q100 = built-in). Empirically (Spark 4.1.2) an event
    // at EXACTLY last+gap still merges — the boundary is > gap, same
    // as q41's — and the window end is last event + gap.
    "q100_session_window" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("ts", col("ts").cast("timestamp"))
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total"))
        .select(col("user_id"),
          col("session_window.start").cast("timestamp_ntz").as("start_ts"),
          col("session_window.end").cast("timestamp_ntz").as("end_ts"),
          col("n_events"), col("total"))
    },

    // The sketch family's oracle-checkable row: HLL++ approximate
    // distinct at rsd=0.01 next to the exact count. The sketch's
    // register-max merge is order-independent, so the approx value —
    // and therefore the 5%-bound flag (5 sigma at this rsd) — is
    // deterministic for a given dataset regardless of partitioning.
    "q101_approx_distinct" -> { (s, d) =>
      Tables.events(s, d)
        .agg(count_distinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.01).as("apx"))
        .select(col("exact_users"),
          // empty table: 0/0 would throw under ANSI; vacuously ok
          when(col("exact_users") === 0L, lit(true))
            .otherwise(abs(col("apx") - col("exact_users")).cast("double") /
              col("exact_users") <= 0.05).as("approx_ok"))
    },

    // Tumbling 1-hour window per event type (streaming `window()` analog).
    "q40_tumbling_window" -> { (s, d) =>
      Tables.events(s, d)
        // date_trunc yields LTZ; keep the naive type end-to-end (UTC session).
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("win"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    },

    // Sessionization: a new session opens after a >30-minute gap; session
    // id = cumulative count of gap-breaks per user (lag + running sum —
    // the batch twin of mapGroupsWithState session state).
    "q41_sessionize" -> { (s, d) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts")
      val ev = Tables.events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts").cast("timestamp")) -
              unix_micros(col("prev_ts").cast("timestamp")) > 1800L * 1000000L, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      ev.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total"))
    },

    // JSON property extraction from the props column.
    "q42_json_extract" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
    },

    // Funnel: users whose first view precedes their first click precedes
    // their first purchase.
    "q43_funnel" -> { (s, d) =>
      val firsts = Tables.events(s, d)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      firsts.filter(col("t_view") < col("t_click") &&
        col("t_click") < col("t_purchase"))
        .select("user_id")
    },

    // As-of join (operator Spark lacks; composed via the union-window
    // trick, ONE shuffle): each click gets the user's most recent
    // purchase at-or-before it. Oracle uses DuckDB's native ASOF JOIN.
    "q45_asof_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"),
          round(col("value"), 2).as("purchase_value"))
      graft.operators.Joins.asOfJoin(clicks, purchases, key = "user_id",
        leftTime = "ts", rightTime = "ts",
        payload = Seq("purchase_id", "purchase_value"))
        .select("event_id", "user_id", "purchase_id", "purchase_value")
    },

    // Range join (point-in-interval) via time binning: each user's
    // events joined into their first-30-minutes window — the binned
    // equi-join shape, never a nested-loop range scan.
    "q74_range_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val iv = ev.groupBy("user_id")
        .agg(min(col("ts")).as("s"))
        .withColumn("e", col("s") + expr("INTERVAL 30 MINUTES"))
      graft.operators.Joins.rangeJoinBinned(
        ev.select(col("user_id"), col("event_id"), col("ts")), "ts",
        iv, "s", "e", "user_id", binSeconds = 600)
        .groupBy("user_id").agg(count(lit(1)).as("n_in_window"))
    },

    // Interval-overlap join via the same binning machinery: per user,
    // does the view-activity span overlap the click-activity span, and
    // by how many (whole) seconds.
    "q75_interval_overlap" -> { (s, d) =>
      val spans = Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
      val views = spans.filter(col("event_type") === "view")
        .select(col("user_id"), col("s").as("vs"), col("e").as("ve"))
      val clicks = spans.filter(col("event_type") === "click")
        .select(col("user_id"), col("s").as("cs"), col("e").as("ce"))
      graft.operators.Joins.intervalOverlapJoin(
        views, "vs", "ve", clicks, "cs", "ce", "user_id", binSeconds = 86400)
        .select(col("user_id"),
          (least(col("ve"), col("ce")).cast("timestamp").cast("long") -
            greatest(col("vs"), col("cs")).cast("timestamp").cast("long"))
            .as("overlap_sec"))
    },

    // Sliding-window style rate: events per type per day with a running
    // 3-day average (window-frame aggregation over time buckets).
    "q44_sliding_rate" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-2, 0)
      daily.withColumn("avg3", round(avg(col("n")).over(w), 2))
    },

    // VARIANT semi-structured extraction (q140): Spark 4's native
    // answer to heterogeneous JSON metadata — `props` is parsed ONCE
    // into a VARIANT value (a binary parse tree), then every typed
    // extraction (`variant_get`) walks that tree directly. q42's
    // `get_json_object` re-parses the JSON string on EVERY extraction;
    // the variant path is parse-once/extract-many, which is the shape a
    // metadata-heavy pipeline wants when each document carries a bag of
    // crawl/source/license fields read by many downstream filters
    // (`Probe scalars` measures the gap). The two-step select keeps the
    // parse in its own projection (CollapseProject won't inline an
    // expression referenced more than once, so the parse stays single);
    // a missing path extracts as NULL, and the int and string reads
    // both come from the same parse.
    "q140_variant_extract" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), parse_json(col("props")).as("v"))
        .select(col("event_id"),
          variant_get(col("v"), "$.k", "int").as("k"),
          variant_get(col("v"), "$.k", "string").as("k_str"),
          variant_get(col("v"), "$.missing", "int").as("k_missing"))
    },

    // Time-weighted average per user — each reading holds until the
    // next one (metered-quantity semantics); one shuffle on the key,
    // timeline streamed once through a lead() window.
    "q194_twa" -> { (s, d) =>
      graft.operators.Joins.timeWeightedAvg(Tables.events(s, d),
        "user_id", "ts", "event_id", "value")
    },

    // First-order Markov transitions over per-user timelines: the
    // clickstream path matrix with per-source probabilities.
    "q195_transitions" -> { (s, d) =>
      graft.operators.Joins.transitionCounts(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type")
    },

    // Retention cohort matrix (q207): users by first-seen week,
    // distinct-active counts per week offset.
    "q207_retention_cohorts" -> { (s, d) =>
      graft.operators.Joins.retentionCohorts(Tables.events(s, d),
        "user_id", "ts")
    },

    // Tolerance as-of (q209): q45's enrichment, but a purchase older
    // than 24h does not count — merge_asof `tolerance` semantics
    // (null-out after the as-of IS exact: every other candidate is
    // older than the latest one).
    "q209_asof_tolerance" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"),
          round(col("value"), 2).as("purchase_value"))
      graft.operators.Joins.asOfJoinWithin(clicks, purchases,
        key = "user_id", leftTime = "ts", rightTime = "ts",
        payload = Seq("purchase_id", "purchase_value"),
        toleranceSec = 86400L)
        .select("event_id", "user_id", "purchase_id", "purchase_value")
    },

    // Path mining (q221): top-10 3-step event-type routes — the
    // multi-step sibling of q195's transition matrix.
    "q221_path_mining" -> { (s, d) =>
      graft.operators.Joins.pathCounts(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type", steps = 3, k = 10)
    },

    // Gap-fill to a daily grid (q220): one row per user per day
    // between their first and last event, last observed value carried
    // forward — as-of against a generated spine, the time-series
    // regularization move.
    "q220_gapfill" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
        round(col("value"), 2).as("value"))
      graft.operators.Joins.gapFillDaily(ev, "user_id", "ts", "value")
    },

    // Conversion latency (q208): first 'view' to first later
    // 'purchase' per user, exact interpolated p50/p90.
    "q208_convert_latency" -> { (s, d) =>
      graft.operators.Joins.conversionLatency(Tables.events(s, d),
        "user_id", "ts", "event_type", fromType = "view",
        toType = "purchase")
    },

    // Interval concurrency curve (q238): open-interval count at every
    // boundary instant (peak concurrent sessions; the same +1/−1
    // prefix-sum algorithm as genomic read depth). Intervals derived
    // arithmetically from events ([ts, ts + 1 + id%300) seconds, epoch
    // integers, half-open); the oracle replays the boundary events and
    // the running sum with the identical (t, delta) ordering.
    "q238_concurrency_curve" -> { (s, d) =>
      val iv = Tables.events(s, d).select(
        unix_timestamp(col("ts")).as("start_s"),
        (unix_timestamp(col("ts")) + 1 + pmod(col("event_id"), lit(300)))
          .as("end_s"))
      graft.operators.Joins.concurrencyCurve(iv, "start_s", "end_s")
    },

    // Keyed depth curve (q275): per-contig read depth at every
    // depth-changing position — q238's per-key sibling run through
    // the TILED two-level prefix sum (tile-local windows + per-tile
    // carry-ins), so a hot chromosome never serializes one reducer.
    // Alignment intervals derive arithmetically from lineitem
    // (contig = partkey%8, [start, start + 20 + 3·linenumber)); a
    // deliberately tiny tile width (2^6) forces MANY cross-tile
    // carries at sf scale, so the carry algebra itself is under the
    // oracle — which replays the depth with one plain per-key window.
    "q275_depth_curve" -> { (s, d) =>
      val start = pmod(col("l_partkey").cast("long") * 37 +
        col("l_suppkey").cast("long"), lit(5000L))
      val iv = Tables.lineitem(s, d).select(
        concat(lit("c"), pmod(col("l_partkey"), lit(8)).cast("string"))
          .as("contig"),
        start.as("astart"),
        (start + 20 + col("l_linenumber").cast("long") * 3).as("aend"))
      graft.operators.Joins.depthCurve(iv, "contig", "astart", "aend",
        tileBits = 6)
    }
  )

  val oracles: Map[String, String] = Map(
    // q336: the union-window interpolation replayed — same spine
    // arithmetic, same ascending/descending carries, same equal-time
    // tie rules (past takes the greatest (ts, value) struct, future
    // the smallest; nt == pt short-circuits to pv).
    "q336_interpolate" ->
      """WITH e AS (SELECT user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t,
               "value" AS v
             FROM events WHERE "value" IS NOT NULL),
          b AS (SELECT k, min(t) // 21600 * 21600 AS t0,
                  max(t) // 21600 * 21600 AS t1
                FROM e GROUP BY 1),
          sp AS (SELECT k, unnest(generate_series(t0, t1, 21600)) AS t FROM b),
          u AS (SELECT k, t, 1 AS is_left,
                  CAST(NULL AS STRUCT(ot BIGINT, v DOUBLE)) AS p
                FROM sp
                UNION ALL
                SELECT k, t, 0, {'ot': t, 'v': v} FROM e),
          w AS (SELECT k, t, is_left,
                  last_value(p IGNORE NULLS) OVER (PARTITION BY k
                    ORDER BY t ASC, is_left ASC, p ASC
                    ROWS UNBOUNDED PRECEDING) AS prev,
                  last_value(p IGNORE NULLS) OVER (PARTITION BY k
                    ORDER BY t DESC, is_left ASC, p DESC
                    ROWS UNBOUNDED PRECEDING) AS nxt
                FROM u)
          SELECT k AS user_id, t AS bucket_ts,
               round(CASE WHEN prev IS NULL OR nxt IS NULL THEN NULL
                          WHEN nxt.ot = prev.ot THEN prev.v
                          ELSE prev.v + (nxt.v - prev.v) *
                            ((t - prev.ot) / (nxt.ot - prev.ot)) END, 4)
                 + 0.0 AS v_interp
          FROM w WHERE is_left = 1""",

    // q238: boundary deltas + global running sum ordered (t, delta) —
    // −1 before +1 at a shared instant (half-open intervals) — final
    // depth per instant at the last tie (arg_max on position).
    "q238_concurrency_curve" ->
      """WITH iv AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT) + 1 + event_id % 300 AS e
             FROM events),
          ev AS (SELECT s AS t, 1 AS delta FROM iv
                 UNION ALL SELECT e, -1 FROM iv),
          r AS (SELECT t,
                  sum(delta) OVER (ORDER BY t, delta
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS depth,
                  row_number() OVER (ORDER BY t, delta) AS pos
                FROM ev)
          SELECT t, CAST(arg_max(depth, pos) AS BIGINT) AS depth
          FROM r GROUP BY t""",
    // q275: the oracle replays the keyed depth with ONE plain per-key
    // window — the tiled carry algebra must land on the same curve.
    "q275_depth_curve" ->
      """WITH iv AS (
           SELECT 'c' || (l_partkey % 8) AS contig,
                  (CAST(l_partkey AS BIGINT) * 37 +
                   CAST(l_suppkey AS BIGINT)) % 5000 AS astart,
                  (CAST(l_partkey AS BIGINT) * 37 +
                   CAST(l_suppkey AS BIGINT)) % 5000
                    + 20 + CAST(l_linenumber AS BIGINT) * 3 AS aend
           FROM lineitem),
         ev AS (SELECT contig, astart AS pos, 1 AS delta FROM iv
                UNION ALL SELECT contig, aend, -1 FROM iv),
         net AS (SELECT contig, pos, CAST(sum(delta) AS BIGINT) AS net
                 FROM ev GROUP BY 1, 2 HAVING sum(delta) != 0)
         SELECT contig, pos,
                CAST(sum(net) OVER (PARTITION BY contig ORDER BY pos)
                  AS BIGINT) AS depth
         FROM net""",
    "q40_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS win, event_type,
              count(*) AS n, round(sum(value), 2) AS total
         FROM events GROUP BY 1, 2""",
    // q40's oracle verbatim: the streaming execution must reproduce the
    // batch window aggregation exactly.
    "q86_stream_parity" ->
      """SELECT date_trunc('hour', ts) AS win, event_type,
              count(*) AS n, round(sum(value), 2) AS total
         FROM events GROUP BY 1, 2""",
    "q294_tws_running_counts" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id,
              count(*) AS n_events
         FROM events GROUP BY 1""",
    "q41_sessionize" ->
      """WITH g AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
                       THEN 1 ELSE 0 END AS is_new
           FROM events),
         s AS (
           SELECT user_id, value,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM g)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                count(*) AS n_events, round(sum(value), 2) AS total
         FROM s GROUP BY 1, 2""",
    // q41's sessionization extended with per-session bounds; timestamps
    // truncated to the µs domain both engines share (make_timestamp —
    // the events table is ns-precision, the engine reads it as µs).
    "q87_session_stream" ->
      """WITH g AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
                       THEN 1 ELSE 0 END AS is_new
           FROM events),
         s AS (
           SELECT user_id, ts, value,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g)
         SELECT user_id,
                make_timestamp(CAST(epoch_us(min(ts)) AS BIGINT)) AS start_ts,
                make_timestamp(CAST(epoch_us(max(ts)) AS BIGINT)) AS end_ts,
                count(*) AS n_events, round(sum(value), 2) AS total
         FROM s GROUP BY user_id, sid""",
    // > gap (an exact-gap event still merges, verified on Spark 4.1.2);
    // end = last + gap
    "q100_session_window" ->
      """WITH g AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
                       THEN 1 ELSE 0 END AS is_new
           FROM events),
         s AS (
           SELECT user_id, ts, value,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g)
         SELECT user_id,
                make_timestamp(CAST(epoch_us(min(ts)) AS BIGINT)) AS start_ts,
                make_timestamp(CAST(epoch_us(max(ts)) AS BIGINT) + 1800000000) AS end_ts,
                count(*) AS n_events, round(sum(value), 2) AS total
         FROM s GROUP BY user_id, sid""",
    "q101_approx_distinct" ->
      """SELECT count(DISTINCT user_id) AS exact_users, true AS approx_ok
         FROM events""",
    // time bounds compared in the µs domain both engines share
    "q99_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND epoch_us(p.ts) >= epoch_us(c.ts)
          AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000""",
    "q149_stream_outer_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND epoch_us(p.ts) >= epoch_us(c.ts)
          AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000""",
    // q156: every event exactly once — the doubled stream collapses
    // back to the plain table.
    "q156_stream_dedup" ->
      """SELECT event_id, ts, user_id, event_type, value, props
         FROM events""",
    "q158_stream_static_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
              round(sum(value), 2) AS total
         FROM events e JOIN customer c
           ON c.c_custkey = (e.user_id % 150) + 1
         WHERE e.event_type = 'purchase'
         GROUP BY c_mktsegment""",
    // q169: the materialized view must equal the batch rollup.
    "q169_stream_matview" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
         FROM events GROUP BY event_type""",
    "q166_rolling_window" ->
      """SELECT event_id, user_id,
              round(sum(value) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS roll3
         FROM events""",
    // q162: exactly the batch aggregation — emitted once across the
    // two checkpoint-sharing runs.
    "q162_stream_recovery" ->
      """SELECT date_trunc('hour', ts) AS win, event_type,
              count(*) AS n, round(sum(value), 2) AS total
         FROM events GROUP BY 1, 2""",
    "q98_rolling_dau" ->
      """WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                            user_id
                     FROM events),
         sp AS (SELECT DISTINCT day FROM du),
         r AS (SELECT s.day AS day, du.user_id
               FROM sp s JOIN du
                 ON du.day >= s.day - INTERVAL 6 DAY AND du.day <= s.day)
         SELECT day, count(DISTINCT user_id) AS dau7 FROM r GROUP BY 1""",
    "q42_json_extract" ->
      """SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k, count(*) AS n
         FROM events GROUP BY 1""",
    "q43_funnel" ->
      """WITH firsts AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                  min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
           FROM events WHERE event_type IN ('view', 'click', 'purchase')
           GROUP BY user_id)
         SELECT user_id FROM firsts
         WHERE t_view < t_click AND t_click < t_purchase""",
    "q45_asof_join" ->
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         purchases AS (SELECT user_id, ts, event_id AS purchase_id,
                              round(value, 2) AS purchase_value
                       FROM events WHERE event_type = 'purchase')
         SELECT l.event_id, l.user_id, r.purchase_id, r.purchase_value
         FROM clicks l ASOF LEFT JOIN purchases r
           ON l.user_id = r.user_id AND l.ts >= r.ts""",
    "q44_sliding_rate" ->
      """WITH daily AS (
           SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT day, event_type, n,
                round(avg(n) OVER (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS avg3
         FROM daily""",
    "q75_interval_overlap" ->
      """WITH spans AS (SELECT user_id, event_type, min(ts) AS s, max(ts) AS e
                        FROM events GROUP BY 1, 2),
         v AS (SELECT user_id, s AS vs, e AS ve FROM spans WHERE event_type = 'view'),
         c AS (SELECT user_id, s AS cs, e AS ce FROM spans WHERE event_type = 'click')
         SELECT v.user_id,
                CAST(epoch_us(least(ve, ce)) // 1000000
                     - epoch_us(greatest(vs, cs)) // 1000000 AS BIGINT) AS overlap_sec
         FROM v JOIN c ON v.user_id = c.user_id
         WHERE epoch_us(vs) <= epoch_us(ce) AND epoch_us(cs) <= epoch_us(ve)""",
    // epoch_us comparisons: the engine's timestamps are ns-truncated to
    // µs, so the oracle compares in the µs domain too.
    "q74_range_join" ->
      """WITH iv AS (SELECT user_id, min(ts) AS s FROM events GROUP BY 1)
         SELECT e.user_id, count(*) AS n_in_window
         FROM events e JOIN iv ON e.user_id = iv.user_id
         WHERE epoch_us(e.ts) >= epoch_us(iv.s)
           AND epoch_us(e.ts) <= epoch_us(iv.s) + 1800000000
         GROUP BY 1""",
    // q140: DuckDB has no VARIANT — json_extract replays the same typed
    // reads (a JSON number casts to INTEGER / VARCHAR the way
    // variant_get targets int / string; a missing path is NULL both
    // ways).
    "q140_variant_extract" ->
      """SELECT event_id,
              CAST(json_extract(props, '$.k') AS INTEGER) AS k,
              CAST(json_extract(props, '$.k') AS VARCHAR) AS k_str,
              CAST(json_extract(props, '$.missing') AS INTEGER) AS k_missing
         FROM events""",
    // q194: lead() integration replayed in the µs domain; the last
    // event per user has no successor and carries zero weight;
    // single-event users drop out (no elapsed time).
    "q194_twa" ->
      """WITH x AS (SELECT user_id, event_id, value, epoch_us(ts) AS us
                    FROM events),
         dt AS (SELECT user_id, value,
                  lead(us) OVER (PARTITION BY user_id
                    ORDER BY us, event_id) - us AS d
                FROM x)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
              CAST(sum(d) AS BIGINT) AS span_us,
              round(sum(value * d) / sum(d), 4) + 0.0 AS twa
         FROM dt WHERE d IS NOT NULL GROUP BY user_id""",
    // q195: the same lead() timeline, (type -> next type) counts and
    // per-source probabilities.
    "q195_transitions" ->
      """WITH x AS (SELECT event_type,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY epoch_us(ts), event_id) AS next_type
              FROM events),
         c AS (SELECT event_type AS from_type, next_type,
                 count(*) AS n
               FROM x WHERE next_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, next_type, CAST(n AS BIGINT) AS n,
              round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 4) + 0.0
                AS p
         FROM c""",
    // q207: ISO-Monday week truncation both engines; offsets are exact
    // multiples of 7 days in the NTZ µs domain.
    "q207_retention_cohorts" ->
      """WITH c AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
                    FROM events GROUP BY 1),
         a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw
               FROM events)
         SELECT cw AS cohort_week,
              CAST((epoch_us(aw) - epoch_us(cw)) / 604800000000 AS INTEGER)
                AS week_offset,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM a JOIN c USING (user_id) GROUP BY 1, 2""",
    // q209: DuckDB ASOF + the same null-out-when-stale CASE.
    "q209_asof_tolerance" ->
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events
                         WHERE event_type = 'click'),
         purchases AS (SELECT user_id, ts, event_id AS purchase_id,
                              round(value, 2) AS purchase_value
                       FROM events WHERE event_type = 'purchase')
         SELECT l.event_id, l.user_id,
              CASE WHEN r.ts IS NOT NULL
                    AND epoch_us(l.ts) - epoch_us(r.ts) <= 86400000000
                   THEN r.purchase_id END AS purchase_id,
              CASE WHEN r.ts IS NOT NULL
                    AND epoch_us(l.ts) - epoch_us(r.ts) <= 86400000000
                   THEN r.purchase_value END AS purchase_value
         FROM clicks l ASOF LEFT JOIN purchases r
           ON l.user_id = r.user_id AND l.ts >= r.ts""",

    // q221: two leads over the same per-user window, deterministic
    // (n desc, path) top-10.
    "q221_path_mining" ->
      """WITH x AS (SELECT event_type,
                lead(event_type, 1) OVER w AS t1,
                lead(event_type, 2) OVER w AS t2
              FROM events
              WINDOW w AS (PARTITION BY user_id
                ORDER BY epoch_us(ts), event_id)),
         p AS (SELECT event_type || '>' || t1 || '>' || t2 AS path
               FROM x WHERE t2 IS NOT NULL)
         SELECT path, CAST(count(*) AS BIGINT) AS n
         FROM p GROUP BY 1 ORDER BY n DESC, path LIMIT 10""",

    // q220: generated spine + ASOF at each day's last microsecond.
    "q220_gapfill" ->
      """WITH b AS (SELECT user_id, date_trunc('day', min(ts)) AS d0,
                      date_trunc('day', max(ts)) AS d1
                    FROM events GROUP BY 1),
         spine AS (SELECT user_id,
                     unnest(generate_series(CAST(d0 AS TIMESTAMP),
                       CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS day
                   FROM b),
         sp AS (SELECT user_id, day,
                  day + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND AS de
                FROM spine),
         ev AS (SELECT user_id, ts, round(value, 2) AS fill_value
                FROM events)
         SELECT s.user_id, CAST(s.day AS DATE) AS day, e.fill_value
         FROM sp s ASOF LEFT JOIN ev e
           ON s.user_id = e.user_id AND s.de >= e.ts""",

    // q208: conditional-min funnel endpoints, exact interpolated
    // percentiles (quantile_cont == Spark percentile, pinned by q15).
    "q208_convert_latency" ->
      """WITH u AS (SELECT user_id,
              min(CASE WHEN event_type = 'view'
                       THEN epoch_us(ts) END) AS tf,
              min(CASE WHEN event_type = 'purchase'
                       THEN epoch_us(ts) END) AS tt
            FROM events GROUP BY 1),
         l AS (SELECT (tt - tf) / 1e6 AS lat_s FROM u
               WHERE tf IS NOT NULL AND tt IS NOT NULL AND tt > tf)
         SELECT CAST(count(*) AS BIGINT) AS n_converted,
              round(quantile_cont(lat_s, 0.5), 4) + 0.0 AS p50_s,
              round(quantile_cont(lat_s, 0.9), 4) + 0.0 AS p90_s
         FROM l"""
  )
}
