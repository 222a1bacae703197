package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators for continuous training-data pipelines.
  * The reference has no streaming at all (SURVEY §2.10) — these are the
  * scale-path additions: watermarked windowed aggregation, streaming exact
  * dedup, and stateful sessionization via flatMapGroupsWithState. All are
  * plain stream-DataFrame transforms so they compose with readStream
  * sources and writeStream sinks.
  */
object StreamingOps {

  /** Watermarked tumbling-window aggregation over an event stream. */
  def windowedEventCounts(events: DataFrame, tsCol: String = "ts",
      keyCol: String = "event_type", window_ : String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Watermarked stream-stream inner join on equi-keys plus an event-time
    * interval: emits (l, r) pairs with matching keys and
    * `r.ts ∈ [l.ts - before, l.ts + after]`. The canonical clicks⋈views
    * attribution join, in the form whose STATE IS BOUNDED: both sides carry
    * a watermark and the join condition ranges the two event-time columns
    * against each other, so Spark's symmetric hash join can evict any row
    * older than watermark + interval — without the range condition the
    * state grows with the full history and a 100 TB stream OOMs its
    * executors. Inner pairs emit as soon as both sides arrive (the
    * watermark only gates eviction, not emission).
    *
    * `before`/`after` are SQL interval strings ("1 hour"); keys pair
    * left-to-right so the two sides may use different column names (the
    * output carries both).
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTs: String, rightTs: String,
      before: String = "1 hour", after: String = "0 seconds",
      watermark: String = "1 hour"): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      s"streamIntervalJoin: key lists must pair up ($leftKeys vs $rightKeys)")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val keyCond = leftKeys.zip(rightKeys)
      .map { case (a, b) => l(a) === r(b) }.reduce(_ && _)
    val timeCond =
      r(rightTs) >= l(leftTs) - expr(s"INTERVAL $before") &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $after")
    l.join(r, keyCond && timeCond, "inner")
  }

  /** Streaming exact dedup on a key with bounded state: watermark lets
    * Spark expire seen-keys state (dropDuplicatesWithinWatermark semantics).
    */
  def streamingDedup(events: DataFrame, keyCols: Seq[String], tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** sem_map over a stream: continuous LLM transformation of arriving rows
    * (beyond-reference — the reference is batch-only). Composes with
    * watermarks, windows, and any writeStream sink. The stage is the batch
    * operators' metered `mapPartitions` body
    * ([[graft.operators.LLMStage.answerPartitions]]) without what streaming
    * forbids: no partition probing and no checkpoint.
    */
  def semMapStream(df: DataFrame, instr: String, suffix: String = "_map"): DataFrame =
    answerStream(df, instr, graft.llm.Prompts.mapFormatter(_, _))
      .withColumn(suffix, col("__graft_raw")).drop("__graft_raw")

  /** sem_filter over a stream: keeps rows the model affirms. */
  def semFilterStream(df: DataFrame, instr: String, default: Boolean = true): DataFrame =
    answerStream(df, instr, graft.llm.Prompts.filterFormatter(_, _))
      .filter(graft.operators.SemCore.boolExpr(graft.operators.SemCore.answerExprFor(
        graft.core.Sem.settings.lm.modelName, col("__graft_raw")), default))
      .drop("__graft_raw")

  /** Append the raw answer to `format(doc, instruction)` as `__graft_raw`. */
  private def answerStream(df: DataFrame, instr: String,
      format: (String, String) => Seq[graft.llm.ChatMessage]): DataFrame = {
    val s = graft.core.Sem.settings
    val nle = graft.core.NLExpr.parse(instr)
    nle.validate(df.columns.toIndexedSeq)
    val ser = graft.operators.SemCore.serializeDocBudgeted(
      df.schema, nle.cols, s.serializationFormat, s.lm, s.longContextStrategy)
    val instruction = nle.instruction
    graft.operators.LLMStage.answerPartitions(df, s.lm, "__graft_raw", None,
      row => graft.llm.LMRequest(format(ser(row), instruction)))
  }

  /** Approximate Bloom size (bytes) for `n` insertions at `fpp` — the
    * standard m = -n ln(p) / ln²2 bit sizing Spark's builder uses.
    */
  private[graft] def bloomBytes(n: Long, fpp: Double): Long =
    math.ceil(-n.toDouble * math.log(fpp) / (math.log(2) * math.log(2)) / 8.0).toLong

  /** Largest band count whose Bloom fits `budgetBytes`, given `docs`
    * indexed documents — None when even a single band exceeds the budget
    * (the guard must not "degrade" into the very blow-up it exists to
    * prevent). The prefilter degrades by probing FEWER bands rather than
    * blowing driver/executor memory: recall of the flag drops from
    * 1-(1-s^r)^bands toward 1-(1-s^r)^kept — missed near-dup candidates
    * pass unflagged (they are caught by the batch verify pass over
    * unflagged rows if one is scheduled), while flagged rows remain
    * false-positive-only.
    */
  private[graft] def bandsWithinBudget(docs: Long, bands: Int, fpp: Double,
      budgetBytes: Long): Option[Int] =
    (1 to bands).takeWhile(b => bloomBytes(math.max(docs * b, 1L), fpp) <= budgetBytes)
      .lastOption

  /** Streaming incremental dedup against a [[graft.operators.Dedup.saveDedupIndex]]
    * index: exact duplicates of the existing corpus drop via a stream-static
    * fingerprint anti-join (stateless — the static side broadcasts or
    * re-reads per micro-batch); near-dup CANDIDATES are flagged
    * (`maybe_near_dup`) via a driver-built Bloom filter over the index's
    * LSH band keys riding the stream as a pure per-row expression. The
    * stream stays shuffle-free and low-latency; flagged rows route to the
    * batch [[graft.operators.Dedup.dropAgainstIndex]] verify (a Bloom hit
    * is an upper bound — no false negatives up to fpp band collisions).
    *
    * The filter's memory grows with index_docs × bands, so it is guarded by
    * `maxBloomBytes`: past the budget the prefilter auto-degrades to the
    * largest band subset that fits (logged — the tradeoff is candidate
    * RECALL of the flag, never precision), or throws if `degradeBands` is
    * false and the full filter cannot fit.
    */
  def streamDropAgainstIndex(stream: DataFrame, textCol: String, path: String,
      bands: Int = 16, fpp: Double = 1e-6,
      maxBloomBytes: Long = 256L << 20, degradeBands: Boolean = true): DataFrame = {
    val spark = stream.sparkSession
    graft.core.BatchCommit.requireClean(spark, path, "dedup index")
    val (numHashes, shingleLen, rowsPerBand) =
      graft.operators.Dedup.indexParams(spark, path, bands)
    val idx = graft.core.BatchCommit.readData(spark, path, "docs")
    // Band-key construction MUST match the batch reader's
    // (Dedup.indexBandKeys is the single source of truth) — a filter built
    // with a different hash would be unprobeable. Sizing: exactly
    // `bands` keys per doc, so the cheap parquet-metadata count of the
    // un-exploded frame sizes the filter without a second full scan.
    val docs = idx.count()
    val keptBands = {
      val full = bloomBytes(math.max(docs * bands, 1L), fpp)
      if (full <= maxBloomBytes) bands
      else {
        require(degradeBands, s"streamDropAgainstIndex: Bloom over ${docs} docs × " +
          s"$bands bands needs ~$full bytes > budget $maxBloomBytes; raise " +
          "maxBloomBytes or allow degradeBands")
        val kept = bandsWithinBudget(docs, bands, fpp, maxBloomBytes).getOrElse(
          throw new IllegalArgumentException(
            s"streamDropAgainstIndex: even ONE band's Bloom over $docs docs " +
              s"(~${bloomBytes(math.max(docs, 1L), fpp)} bytes) exceeds budget " +
              s"$maxBloomBytes — raise maxBloomBytes; band degradation cannot help"))
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"streamDropAgainstIndex: Bloom over $docs docs × $bands bands " +
            s"(~$full bytes) exceeds budget $maxBloomBytes; degrading to $kept " +
            "bands — near-dup flag recall drops (batch verify still exact), " +
            "precision unchanged")
        kept
      }
    }
    // Probing a PREFIX of the band keys keeps index and stream sides
    // consistent: both slice the same indexBandKeys layout.
    def bandKeysOf(sig: org.apache.spark.sql.Column) = {
      val keys = graft.operators.Dedup.indexBandKeys(sig, bands, rowsPerBand)
      if (keptBands == bands) keys else slice(keys, 1, keptBands)
    }
    val expected = math.max(docs * keptBands, 1L)
    val bloom = idx.select(explode(bandKeysOf(col("sig"))).as("__bk"))
      .stat.bloomFilter("__bk", expected, fpp)
    val fpStatic = idx.select(col("fp").as("__fp")).distinct()
    val words = split(trim(col(textCol)), "\\s+")
    stream
      .withColumn("__fp", graft.functions.TextFunctions.fingerprint(col(textCol)))
      .join(fpStatic, Seq("__fp"), "left_anti")
      .drop("__fp")
      .withColumn("maybe_near_dup",
        graft.functions.BloomExpr.bloomContainsCount(
          bandKeysOf(graft.functions.MinHashExpr.minhashSignature(
            words, shingleLen, numHashes)), bloom) > 0)
  }

  /** Continuous ANN-index ingestion: append each micro-batch of an
    * embedding stream to a saved IVF index ([[graft.embed.IvfIndex.append]]
    * via foreachBatch — the standard stream-to-batch-sink bridge). The
    * quantizer (saved centroids) is fixed; each batch pays one assignment
    * scan and extends only the touched cell directories, so a 100 TB index
    * grows continuously without rebuilds. Searches between batches see
    * every COMPLETED append. Caller `.start()`s the returned writer.
    *
    * foreachBatch is at-least-once: after a crash between the parquet
    * commit and the stream checkpoint, the batch is REDELIVERED. A
    * two-phase mark beside the index (`<batchId>:begin` written before the
    * append, `<batchId>:done` after, both via atomic rename) makes replays
    * exactly-once: a `done` replay is skipped outright, and a `begin`
    * replay — the crash window where some of the batch may already be in
    * the index — re-runs [[graft.embed.IvfIndex.append]] under the SAME
    * batch-id-derived commit token, whose [[graft.core.BatchCommit]] mark
    * cleans up the partial adoption and redoes the batch exactly-once (the
    * batch-level anti-join this path used to carry is subsumed by that
    * file-level recovery). A batch id BELOW the mark means a different
    * checkpoint lineage is writing to this index — skipping would silently
    * drop its early batches, so that raises instead of guessing.
    */
  def streamAppendToIndex(stream: DataFrame, c: String, idCol: String,
      path: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val appendBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
      val mark = java.nio.file.Paths.get(path, "stream_batch_id")
      // Mark format "<batchId>:<phase>"; a bare number (the pre-two-phase
      // layout) reads as done.
      val (last, lastDone) =
        if (java.nio.file.Files.exists(mark)) {
          val parts = new String(java.nio.file.Files.readAllBytes(mark),
            java.nio.charset.StandardCharsets.UTF_8).trim.split(':')
          (parts(0).toLong, parts.length < 2 || parts(1) == "done")
        } else (-1L, true)
      def writeMark(phase: String): Unit = {
        val tmp = mark.resolveSibling("stream_batch_id.tmp")
        java.nio.file.Files.write(tmp,
          s"$batchId:$phase".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, mark,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      if (batchId < last)
        // Structured Streaming never re-delivers below the committed offset,
        // so a lower id means a NEW query (fresh checkpoint) is growing an
        // index an older lineage built — its first `last` batches would all
        // be swallowed by the high-water check. Data loss, not a replay.
        throw new IllegalStateException(
          s"streamAppendToIndex: index at $path was grown to batch $last by a " +
            s"different stream lineage (this query delivered batch $batchId). " +
            s"Restart the query from its original checkpoint, or delete " +
            s"$path/stream_batch_id to adopt this lineage (appended rows are " +
            "kept; the new stream must not re-deliver them).")
      else if (batchId == last && lastDone) {
        // at-least-once replay of a fully committed batch — skip.
      } else if (!batch.isEmpty) {
        writeMark("begin")
        // The commit token is the batch id, not the content hash: a begin
        // replay re-delivers the same micro-batch and must resolve to the
        // SAME append commit so its partial adoption is cleaned and redone.
        graft.embed.IvfIndex.append(batch, c, idCol, path,
          token = Some(s"stream$batchId"))
        writeMark("done")
      }
    }
    stream.writeStream.foreachBatch(appendBatch)
  }

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String, value: Double)
  final case class SessionSummary(user_id: Long, n_events: Long, total_value: Double)
  final case class Session(user_id: Long, session_start: Long, session_end: Long,
      n_events: Long, total_value: Double)

  /** Stateful per-user session fold: counts and sums per user with a
    * processing-time timeout — the mapGroupsWithState pattern custom
    * streaming state needs.
    */
  def sessionize(events: Dataset[Event], timeout: String = "30 minutes"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), SessionSummary](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, v) = state.get
            state.remove()
            Iterator.single(SessionSummary(userId, n, v))
          } else {
            val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
            var n = n0; var v = v0
            rows.foreach { e => n += 1; v += e.value }
            state.update((n, v))
            state.setTimeoutDuration(timeout)
            Iterator.empty
          }
      }
  }

  /** Event-time gap sessionization with custom state — the scale-correct
    * sibling of [[sessionize]]: a processing-time timeout is a function of
    * the WALL clock, so a 100 TB backfill replaying months of events in
    * minutes would close sessions mid-burst (or never), while event-time
    * sessions are a pure function of the data and the watermark —
    * identical results live and on replay. The batch twin is
    * `Temporal.sessionize` (gate `events_sessionize`); this is the
    * `flatMapGroupsWithState` + `EventTimeTimeout` form of the same
    * semantics for unbounded streams.
    *
    * Caller must set `withWatermark` on the event-time column BEFORE the
    * keyed fold (enforced by Spark for EventTimeTimeout). A session closes
    * when the watermark passes its last event + `gapMs`; in-batch gaps
    * larger than `gapMs` already split eagerly, so per-key state is one
    * open session regardless of batch size.
    */
  def sessionizeEventTime(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    require(gapMs > 0, s"session gap $gapMs ms must be positive")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Double), Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[(Long, Long, Long, Double)]) =>
          if (state.hasTimedOut) {
            val (start, end, n, v) = state.get
            state.remove()
            Iterator.single(Session(userId, start, end, n, v))
          } else {
            // A batch delivers a key's events unordered; sessions are
            // defined over event time, so order within the batch first
            // (bounded by the micro-batch, not the stream).
            val evs = rows.toArray.sortBy(_.ts.getTime)
            val closed = List.newBuilder[Session]
            var open = state.getOption
            evs.foreach { e =>
              val t = e.ts.getTime
              open match {
                case Some((s0, e0, n0, v0)) if t - e0 <= gapMs =>
                  open = Some((s0, math.max(t, e0), n0 + 1, v0 + e.value))
                case Some((s0, e0, n0, v0)) =>
                  closed += Session(userId, s0, e0, n0, v0)
                  open = Some((t, t, 1L, e.value))
                case None =>
                  open = Some((t, t, 1L, e.value))
              }
            }
            open.foreach { o =>
              state.update(o)
              state.setTimeoutTimestamp(o._2 + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}
