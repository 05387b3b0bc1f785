package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TokenOps
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-streaming form of the events analytics (SURVEY §2b.21):
  * readStream → event-time watermark → tumbling-window agg →
  * writeStream. The batch query `events_window` in
  * [[graft.queries.Analytics]] computes the same result on bounded
  * input; `StreamingSpec` drives this with a MemoryStream and checks
  * agreement with the batch path.
  *
  * Scale posture: state is bounded by the watermark (late data beyond
  * 1 hour dropped); the shuffle key (window, event_type) is
  * low-cardinality and time-partitioned, so state store size is
  * O(windows·types), not O(events).
  */
object EventPipeline {

  /** windowed counts/sums over a (possibly streaming) events frame
    * with columns (ts: timestamp, event_type: string, value: double).
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("total"))

  /** gap-based sessions per user via the native session_window —
    * declarative (Catalyst plans/merges the session state), valid on
    * both batch and streaming input; state bounded by the watermark.
    * Batch-equivalent of the lag-based `events_sessionize` query.
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** streaming exact dedup: first occurrence per key wins; state
    * bounded by the watermark (a key older than the watermark can be
    * dropped because no earlier duplicate can still arrive). The
    * streaming face of graft.ops.Dedup.exact.
    */
  def dedupStream(df: DataFrame, keyCol: String, tsCol: String): DataFrame =
    df.withWatermark(tsCol, "1 hour")
      .dropDuplicates(keyCol)

  /** streaming NEAR-dup (minhash) dedup — the streaming face of
    * graft.ops.Dedup.minhashLsh (§2c.25): each document gets a
    * map-only MinHash signature ([[graft.ops.Dedup.minhashSigCol]] —
    * a stateless projection, so it composes with streaming state ops),
    * and the first document per signature wins. Signature equality is
    * the bands=1 LSH operating point: P(collide) = jaccard^k, sharp
    * near 1 — catches near-identical boilerplate, not loose pairs.
    * State is bounded by the watermark via dropDuplicatesWithinWatermark
    * (a signature older than the watermark can never dedup a future
    * arrival, so its state row is reclaimed).
    */
  def minhashDedupStream(docs: DataFrame, textCol: String, tsCol: String,
                         k: Int = 16): DataFrame =
    docs
      .withColumn("sig_key", xxhash64(array_join(
        transform(graft.ops.Dedup.minhashSigCol(col(textCol), k = k),
          _.cast("string")), ",")))
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark("sig_key")

  /** streaming SimHash near-dup dedup — the streaming face of
    * graft.ops.Dedup.simhashGroups (§2c.26): the native [[graft
    * .functions.SimHash64]] fingerprint is a stateless map-only
    * projection (this is WHY the expression exists — the batch r2
    * spelling was an aggregation, unusable in a streaming projection),
    * and the first document per fingerprint wins. Fingerprint equality
    * is the hamming-0 operating point — near-identical token
    * multisets collide; looser hamming radii need the batch banded
    * path. State bounded by the watermark as in
    * [[minhashDedupStream]]. Spec-checked equal to the batch
    * [[graft.ops.Dedup.simhash]] fingerprints.
    */
  def simhashDedupStream(docs: DataFrame, textCol: String,
                         tsCol: String): DataFrame =
    docs
      .withColumn("fp", graft.functions.SimHash.simhash64(
        array_distinct(split(TokenOps.lower(col(textCol)), " "))))
      .withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark("fp")

  /** streaming curation — the streaming face of the §2c.30/39 batch
    * pass (quality gate + PII scrub). Both stages are STATELESS
    * map-side column expressions, so they compose with any upstream
    * watermark/state operator and add zero state of their own: the
    * exact property the batch operators were designed around (pure
    * codegen'd projections) is what makes them streaming-safe for
    * free. Spec-checked to agree with the batch operators row-by-row.
    */
  /** streaming decontamination — the streaming face of §2c.36: flag
    * arriving training docs that share any k-token shingle with a
    * STATIC eval/benchmark set ([[graft.ops.Curation.evalShingleSet]]
    * — benchmark suites are fixed at pipeline-launch time, which is
    * precisely why the stream side can stay cheap). Shape: stateless
    * normalize/shingle projection (the SAME
    * [[graft.ops.Curation.normTokens]] the batch operator uses, so
    * the faces cannot drift) → stream-static broadcast equi-join
    * (STATELESS per Spark's stream-static join semantics) →
    * watermark-bounded dropDuplicates on doc_id, the only state in
    * the plan. Spec-checked: flags the same doc set as batch
    * [[graft.ops.Curation.contaminated]] on the same corpus.
    */
  def decontaminateStream(docs: DataFrame, textCol: String, idCol: String,
                          tsCol: String, evalShingles: DataFrame,
                          k: Int = 8,
                          broadcastShingleLimit: Long = 5_000_000L): DataFrame = {
    import graft.ops.Curation
    // SIZE-ROUTED like the batch face: the static side is counted ONCE
    // at stream construction (it is fixed for the stream's lifetime),
    // and an eval set past the limit drops the broadcast hint instead
    // of forcing an over-limit driver broadcast on every micro-batch
    val ev =
      if (evalShingles.count() <= broadcastShingleLimit)
        broadcast(evalShingles)
      else evalShingles
    docs
      .select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
        Curation.normTokens(col(textCol)).as("t"))
      .where(size(col("t")) >= k)
      .select(col("doc_id"), col("ts"),
        explode(graft.functions.TokenOps.wordShingles(col("t"), k,
          distinct = false)).as("sh"))
      .join(ev, "sh")
      .select("doc_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
  }

  /** streaming boilerplate-line flagging — the streaming face of
    * [[graft.ops.Dedup.lineDedup]] (§2c.23b), incremental contract:
    * arriving docs are flagged when any of their lines is in the
    * CORPUS's boilerplate-line set
    * ([[graft.ops.Dedup.boilerplateLines]], fitted/persisted at
    * ingest — the bandedSignatures precedent), never arriving-vs-
    * arriving. The line explode + md5 projection is STATELESS and
    * uses the batch face's exact line key; the stream-static join is
    * stateless per Spark's semantics; the only state is the
    * watermark-bounded per-doc dedup. SIZE-ROUTED static side like
    * every stream-static face: counted once at stream construction.
    */
  def lineScrubStream(docs: DataFrame, textCol: String, idCol: String,
                      tsCol: String, boilerLines: DataFrame,
                      broadcastLineLimit: Long = 5_000_000L): DataFrame = {
    val bl =
      if (boilerLines.count() <= broadcastLineLimit) broadcast(boilerLines)
      else boilerLines
    docs
      .select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
        explode(split(col(textCol), "\n")).as("line"))
      .select(col("doc_id"), col("ts"), md5(col("line")).as("lh"))
      .join(bl, "lh")
      .select("doc_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
  }

  /** streaming incremental cross-corpus dedup — the streaming face of
    * [[graft.ops.Dedup.minhashLshCross]] (§2c.25d): arriving docs get
    * the map-only MinHash signature plus per-band bucket keys (one
    * STATELESS projection — the same
    * [[graft.ops.Dedup.bandBucketHashes]] the batch face uses, so the
    * two can never drift), then a stream-static equi-join against the
    * corpus's persisted banded signature table
    * ([[graft.ops.Dedup.bandedSignatures]], fitted/stored at ingest
    * time) with the codegen'd est-Jaccard verify in the join filter.
    * Emits each arriving doc that is a near-dup of the corpus ONCE
    * (watermark-bounded dropDuplicates on doc_id — the only state in
    * the plan; the stream-static join itself is stateless per Spark's
    * semantics). SIZE-ROUTED like [[decontaminateStream]]: the static
    * band table is counted ONCE at stream construction (it is fixed
    * for the stream's lifetime), and a corpus past
    * `broadcastBandLimit` rows drops the broadcast hint — an explicit
    * hint would force an over-limit driver broadcast and fail the
    * stream — letting the static side shuffle per microbatch instead.
    */
  def crossDedupStream(docs: DataFrame, textCol: String, idCol: String,
                       tsCol: String, corpusBands: DataFrame,
                       k: Int = 32, bands: Int = 8,
                       minEstJaccard: Double = 0.5,
                       maxBucket: Long = 10000L,
                       broadcastBandLimit: Long = 5_000_000L): DataFrame = {
    import graft.ops.Dedup
    // SAME skew cap as the batch face (minhashLshCrossBands, via
    // Skew.dropHotKeys): a mass-boilerplate bucket is dropped, both to
    // bound the per-doc join fan-out and so the two faces flag the
    // SAME docs
    // MATERIALIZED once at stream construction (localCheckpoint, the
    // cache-hygiene contract): a stream-static join re-plans the
    // static side EVERY micro-batch, so an un-persisted capped band
    // derivation would re-run the cap (and whatever derivation the
    // caller handed in) per batch — per-batch cost scaling with the
    // corpus, contradicting this face's cost claim (r10 ADVICE). The
    // checkpointed blocks also make the count below free-ish.
    val cappedRaw = graft.ops.Skew
      .dropHotKeys(corpusBands, Seq("band", "bucket"), maxBucket)
      .select(col("band"), col("bucket"),
        col("sig").as("csig"), col("doc_id").as("corpus_id"))
      .localCheckpoint(true)
    val capped =
      if (cappedRaw.count() <= broadcastBandLimit) broadcast(cappedRaw)
      else cappedRaw
    docs
      .select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
        Dedup.minhashSigCol(col(textCol), k = k).as("sig"))
      .where(col("sig").isNotNull)
      // same materialization barrier as the batch build: without it
      // CollapseProject inlines the signature expression into the
      // null filter, every band hash and the carried column
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("ts"), col("sig"),
        posexplode(Dedup.bandBucketHashes(k, bands)).as(Seq("band", "bucket")))
      .join(capped, Seq("band", "bucket"))
      .where(col("doc_id") =!= col("corpus_id") &&
        graft.functions.MinHash.sigMatchCount(col("sig"), col("csig"))
          .cast("double") / k >= minEstJaccard)
      .select("doc_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
  }

  /** streaming ExactSubstr ingest gate — the streaming face of
    * [[graft.ops.Dedup.exactSubstrIncremental]] (§2c.27k): flag each
    * arriving doc that shares a DUPLICATED EXTENT ≥ n tokens with the
    * corpus. The flag needs no islands merge, because a shared
    * n-token window ⟺ an extent of ≥ n tokens exists — window
    * presence IS the detection, exactly (the batch face then names
    * the maximal extents offline). Plan: stateless per-doc window
    * explode (split/slice/md5 — plain projections, stream-safe), one
    * stream-static equi-join against the corpus's persisted window
    * table ([[graft.ops.Dedup.exactSubstrWindows]] — this family's
    * banded-signature analog) with the SAME hot-window cap as the
    * batch face, then watermark-bounded dropDuplicates (the only
    * state). Size-routed broadcast like [[crossDedupStream]]: the
    * static window set is counted once at stream construction.
    */
  def extentDedupStream(docs: DataFrame, textCol: String, idCol: String,
                        tsCol: String, corpusWindows: DataFrame,
                        minTokens: Int = 12, maxWindowFreq: Long = 1000L,
                        broadcastWindowLimit: Long = 5_000_000L): DataFrame = {
    val n = minTokens
    // FAIL LOUDLY on a stale-format window table or one built with a
    // different n: either would silently match nothing
    graft.ops.Dedup.requireWindowN(corpusWindows, n)
    // MATERIALIZED once at stream construction (see crossDedupStream):
    // the stream-static join re-plans the static side per micro-batch;
    // without the checkpoint the cap + distinct would re-run over the
    // corpus window table every batch (r10 ADVICE)
    val cappedRaw = graft.ops.Skew
      .dropHotKeys(corpusWindows, Seq("w"), maxWindowFreq)
      .select("w").distinct()
      .localCheckpoint(true)
    val capped =
      if (cappedRaw.count() <= broadcastWindowLimit) broadcast(cappedRaw)
      else cappedRaw
    docs
      .select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
        split(col(textCol), " ").as("toks"))
      .where(col("toks").isNotNull && size(col("toks")) >= n)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(1), size(col("toks")) - (n - 1))).as("p"),
        col("toks"))
      .select(col("doc_id"), col("ts"),
        // binary16 window hash — MUST mirror Dedup.tokenWindows' v2
        // encoding or the stream-static join silently matches nothing
        unhex(md5(array_join(slice(col("toks"), col("p"), lit(n)), " ")))
          .as("w"))
      .join(capped, Seq("w"))
      .select("doc_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
  }

  /** streaming shard packing — the streaming face of
    * [[graft.ops.Sharding.assignShards]] (§2c.35b): continuous
    * token-budgeted training-shard assignment over an ingest stream,
    * per source. This is the one pipeline face whose state is not
    * expressible with watermarks/dropDuplicates — the running token
    * count per source must SURVIVE across micro-batches — so it uses
    * the typed custom-state operator (flatMapGroupsWithState) with a
    * single long of state per source key.
    *
    * Semantics match the batch rule exactly when docs arrive in
    * doc_id order (the spec drives both faces over the same feed):
    * shard = ⌊cum-tokens-before-doc / budget⌋, cum per source.
    * Within one micro-batch the group iterator is sorted by doc_id
    * (micro-batch group contents are small; cross-batch order is the
    * stream's responsibility, as for any append-time assignment).
    * Docs with null text carry no tokens (counted 0 here; the batch
    * face marks their shard null — a corpus with null texts should be
    * curated before sharding either way). Docs with a null (or
    * non-long-castable) id are DROPPED — the contract, stated rather
    * than crashed into: the typed state tuple decodes the id as a
    * non-nullable Long, so an unfiltered null would kill the stream at
    * runtime, while the batch face merely carries the null through.
    * An id-less doc has no position in a doc_id-ordered shard
    * assignment either way. State: ONE long per source
    * — O(#sources), no timeout (sources are few and long-lived; a
    * bounded-source pipeline can add a processing-time timeout).
    */
  /** the SHARED ingest preamble + per-source running-token state
    * harness behind [[shardStream]] and [[chunkStream]]: decodes
    * (part, doc_id, ntok) — try_cast, not cast, because under ANSI
    * mode (Spark 4 default) a plain cast of a non-numeric id THROWS
    * inside the filter, the exact stream-killing crash the guard
    * exists to prevent; try_cast yields null and the row is dropped
    * as documented — then folds each doc over ONE long of cumulative
    * token count per source, emitting via `emit(part, docId, ntok,
    * cumBefore)`. One definition so the two packing faces' contracts
    * cannot drift.
    */
  private def statefulTokenFold[T: org.apache.spark.sql.Encoder](
      docs: DataFrame, textCol: String, idCol: String, sourceCol: String)(
      emit: (String, Long, Long, Long) => Option[T]): org.apache.spark.sql.Dataset[T] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .where(col(idCol).try_cast("long").isNotNull)
      .select(col(sourceCol).cast("string").as("part"),
        col(idCol).try_cast("long").as("doc_id"),
        coalesce(size(split(col(textCol), " ")).cast("long"), lit(0L))
          .as("ntok"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (part: String, it: Iterator[(String, Long, Long)],
         state: GroupState[Long]) => {
          var cum = state.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(_._2).flatMap { case (_, docId, ntok) =>
            val st = cum
            cum += ntok
            emit(part, docId, ntok, st)
          }
          state.update(cum)
          out.iterator
        })
  }

  def shardStream(docs: DataFrame, textCol: String, idCol: String,
                  sourceCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    statefulTokenFold(docs, textCol, idCol, sourceCol) {
      (part, docId, ntok, st) => Some((part, docId, ntok, st / budget))
    }.toDF("part", "doc_id", "ntok", "shard")
  }

  /** streaming concat-and-chunk assignment — the streaming face of
    * [[graft.ops.Sharding.contextChunks]] (§2c.35c): every arriving
    * doc is assigned its context-window span [start_chunk, end_chunk]
    * in its part's concatenated token stream. Same state shape and
    * contracts as [[shardStream]] via the shared
    * [[statefulTokenFold]] harness (ONE long of running token count
    * per source; micro-batch groups sorted by doc_id; null/non-long
    * ids dropped — stated, not crashed into). Zero-token docs span no
    * window and are dropped, matching the batch face's `ntok > 0`
    * filter. `tok_start` is the doc's token offset in its part's
    * stream, so the batch face's FULL per-chunk aggregate — including
    * token-fill — is a downstream groupBy over these rows
    * (spec-checked identical).
    */
  def chunkStream(docs: DataFrame, textCol: String, idCol: String,
                  sourceCol: String, contextLen: Long): DataFrame = {
    require(contextLen > 0, s"contextLen must be positive, got $contextLen")
    val spark = docs.sparkSession
    import spark.implicits._
    statefulTokenFold(docs, textCol, idCol, sourceCol) {
      (part, docId, ntok, st) =>
        if (ntok <= 0) None
        else Some((part, docId, ntok, st,
          st / contextLen, (st + ntok - 1) / contextLen))
    }.toDF("part", "doc_id", "ntok", "tok_start", "start_chunk", "end_chunk")
  }

  /** streaming funnel progression — the streaming face of
    * `events_funnel` (§2b.22n): per-user view → click-after-view →
    * purchase-after-click stage tracking over a live event stream.
    * Window chains cannot run in streaming (the stage times must
    * survive micro-batches), so this is the third genuinely STATEFUL
    * face beside shard/chunk packing: three longs of state per user
    * (the stage timestamps, −1 = unreached), `flatMapGroupsWithState`
    * emitting one row per stage ADVANCEMENT — the append-mode event a
    * live funnel dashboard consumes.
    *
    * Semantics match the batch window chain when events arrive in ts
    * order (the shardStream contract: micro-batch groups are sorted,
    * cross-batch order is the stream's responsibility): the batch
    * t2 = min click strictly after t1 is exactly the first qualifying
    * click seen in order, and so on. Null/uncastable user ids are
    * dropped (stated, not crashed into — the typed state key decodes
    * non-nullable), matching the packing faces.
    */
  def funnelStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .where(col("user_id").try_cast("long").isNotNull)
      .select(col("user_id").try_cast("long").as("user_id"),
        unix_micros(col("ts")).as("tsu"),
        col("event_type").cast("string").as("et"))
      .where(col("tsu").isNotNull)
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[(Long, Long, String)],
         state: GroupState[(Long, Long, Long)]) => {
          var (t1, t2, t3) = state.getOption.getOrElse((-1L, -1L, -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
          it.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, ts, et) =>
            if (t1 < 0 && et == "view") { t1 = ts; out += ((user, 1, ts)) }
            else if (t1 >= 0 && t2 < 0 && et == "click" && ts > t1) {
              t2 = ts; out += ((user, 2, ts))
            } else if (t2 >= 0 && t3 < 0 && et == "purchase" && ts > t2) {
              t3 = ts; out += ((user, 3, ts))
            }
          }
          state.update((t1, t2, t3))
          out.iterator
        })
      .toDF("user_id", "stage", "ts_micros")
  }

  /** Streaming face of §2b.22r (`events_transitions`): the lead
    * window cannot run in streaming, so the PREVIOUS event per user
    * IS the state — one string of `flatMapGroupsWithState` state per
    * user key, emitting one (user_id, src, dst) row per arriving
    * transition (append mode — the raw edge stream a live transition
    * dashboard counts/normalizes downstream exactly like the batch
    * query's groupBy).
    *
    * Ordering contract matches [[funnelStream]]: micro-batch groups
    * are sorted by (ts, event_type); cross-batch order is the
    * stream's responsibility. Null/uncastable user ids or timestamps
    * are dropped, matching the other stateful faces.
    */
  def transitionStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .where(col("user_id").try_cast("long").isNotNull)
      .select(col("user_id").try_cast("long").as("user_id"),
        unix_micros(col("ts")).as("tsu"),
        col("event_type").cast("string").as("et"))
      .where(col("tsu").isNotNull)
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[(Long, Long, String)],
         state: GroupState[String]) => {
          var prev = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
          it.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, _, et) =>
            if (prev != null) out += ((user, prev, et))
            prev = et
          }
          if (prev != null) state.update(prev)
          out.iterator
        })
      .toDF("user_id", "src", "dst")
  }

  /** Streaming face of §2b.22u (`events_range_join`): same-user event
    * pairs within `tolSeconds`, as a WATERMARKED STREAM-STREAM
    * interval self-join — the one streaming join class Structured
    * Streaming supports natively (equality key + event-time range
    * bound), exercised nowhere else in the pipeline's faces. The
    * time-range condition is exactly what lets Spark BOUND the join
    * state: a buffered left row can be evicted once the right-side
    * watermark passes `ta + tol` (state is O(events within one
    * tol+watermark horizon per key), never the whole stream).
    *
    * Pair semantics match the batch [[graft.ops.RangeJoin.selfWithin]]
    * verbatim: 0 ≤ t_b − t_a ≤ tol, pairs canonical by (t, id), no
    * self-pairs, each pair once. The batch face buckets to avoid a
    * nested loop over a BOUNDED corpus; the streaming face leans on
    * the state store's per-key time index instead — same contract,
    * each engine's native mechanism.
    */
  def rangeJoinStream(events: DataFrame, tolSeconds: Int = 600,
                      watermark: String = "30 minutes"): DataFrame = {
    val a = events.select(col("user_id").as("ua"), col("ts").as("ta"),
      col("event_id").as("ida")).withWatermark("ta", watermark)
    val b = events.select(col("user_id").as("ub"), col("ts").as("tb"),
      col("event_id").as("idb")).withWatermark("tb", watermark)
    a.join(b, col("ua") === col("ub") &&
        col("tb") >= col("ta") &&
        col("tb") <= col("ta") + expr(s"INTERVAL $tolSeconds SECONDS") &&
        (col("ta") < col("tb") ||
          (col("ta") === col("tb") && col("ida") < col("idb"))))
      .select(col("ua").as("user_id"), col("ida").as("id_a"),
        col("idb").as("id_b"),
        (unix_micros(col("tb")) - unix_micros(col("ta"))).as("gap_us"))
  }

  /** Streaming face of §2b.22s (`events_attribution`): the
    * [unbounded, −1) window cannot run in streaming, so the LAST
    * non-purchase event per user IS the state — (event_id, tsu, type)
    * per user key, emitting one attribution row per arriving purchase
    * (append mode — the credit stream a live marketing dashboard
    * consumes). A purchase with no prior touch emits nothing, exactly
    * like the batch face's `attr IS NOT NULL` filter.
    *
    * Ordering contract matches [[funnelStream]]: micro-batch groups
    * are sorted by (ts, event_id); cross-batch order is the stream's
    * responsibility. Null/uncastable ids or timestamps are dropped,
    * matching the other stateful faces.
    */
  def attributionStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .where(col("user_id").try_cast("long").isNotNull)
      .select(col("user_id").try_cast("long").as("user_id"),
        col("event_id").try_cast("long").as("event_id"),
        unix_micros(col("ts")).as("tsu"),
        col("event_type").cast("string").as("et"))
      .where(col("tsu").isNotNull && col("event_id").isNotNull)
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[(Long, Long, Long, String)],
         state: GroupState[(Long, Long, String)]) => {
          var lastTouch = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, String, Long)]
          it.toSeq.sortBy(e => (e._3, e._2)).foreach { case (_, id, ts, et) =>
            if (et == "purchase") {
              if (lastTouch != null)
                out += ((id, user, lastTouch._1, lastTouch._3,
                  ts - lastTouch._2))
            } else lastTouch = (id, ts, et)
          }
          if (lastTouch != null) state.update(lastTouch)
          out.iterator
        })
      .toDF("event_id", "user_id", "attr_event_id", "attr_type", "gap_us")
  }

  /** Streaming face of [[graft.ops.Resample.forwardFill]]: per-user
    * hourly gap-fill with forward fill. A bucket EMITS when a
    * strictly later bucket's event arrives for the key (buckets
    * close on progress — the funnel/attribution ordering contract);
    * the gap buckets in between emit as `filled` rows carrying the
    * closed bucket's value, so the emitted prefix equals the batch
    * operator's output minus each key's still-open last bucket.
    * State per key is ONE small tuple (open bucket, running count,
    * last (ts,id) pick, value) — O(1) regardless of history; events
    * that arrive for an already-closed bucket are dropped (the
    * documented late-data rule of the append faces). `bkt_us` is the
    * bucket start in epoch micros.
    */
  def resampleStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val HourUs = 3600L * 1000000L
    events
      .where(col("user_id").try_cast("long").isNotNull)
      .select(col("user_id").try_cast("long").as("user_id"),
        col("event_id").try_cast("long").as("event_id"),
        unix_micros(col("ts")).as("tsu"),
        col("value").try_cast("double").as("v"))
      .where(col("tsu").isNotNull && col("event_id").isNotNull)
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[(Long, Long, Long, Double)],
         state: GroupState[(Long, Long, Long, Long, Double)]) => {
          // state: (openBktUs, nEvents, lastTsu, lastId, value)
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Double, Boolean)]
          it.toSeq.sortBy(e => (e._3, e._2)).foreach { case (_, id, tsu, v) =>
            val bkt = tsu - java.lang.Math.floorMod(tsu, HourUs)
            if (st == null) st = (bkt, 1L, tsu, id, v)
            else if (bkt == st._1) {
              val keepNew = tsu > st._3 || (tsu == st._3 && id > st._4)
              st = if (keepNew) (st._1, st._2 + 1, tsu, id, v)
                   else (st._1, st._2 + 1, st._3, st._4, st._5)
            } else if (bkt > st._1) {
              out += ((user, st._1, st._2, st._5, false))
              var b = st._1 + HourUs
              while (b < bkt) { out += ((user, b, 0L, st._5, true)); b += HourUs }
              st = (bkt, 1L, tsu, id, v)
            } // bkt < open: late for a closed bucket — dropped
          }
          if (st != null) state.update(st)
          out.iterator
        })
      .toDF("user_id", "bkt_us", "n_events", "value", "filled")
  }

  /** streaming TOKEN-BUDGET gate — the streaming face of
    * [[graft.ops.Curation.sampleTokenBudget]], built on the same
    * [[statefulTokenFold]] the shard/chunk faces use (one long of
    * cumulative token count per source): a doc is emitted while the
    * tokens BEFORE it are under the source's budget, so the take
    * overshoots by less than one document — the batch operator's
    * contract. The one documented difference from the batch twin: a
    * stream cannot re-order history, so the take is in ARRIVAL order
    * (doc_id within each micro-batch), not the md5 replay order; a
    * pipeline that needs the reproducible-mixture order runs the
    * batch operator over the ingested corpus instead.
    */
  def tokenBudgetStream(docs: DataFrame, textCol: String, idCol: String,
                        sourceCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    statefulTokenFold(docs, textCol, idCol, sourceCol) {
      (part, docId, ntok, st) =>
        if (st < budget) Some((part, docId, ntok, st)) else None
    }.toDF("source", "doc_id", "ntok", "cum_before")
  }

  /** streaming HEAVY HITTERS — the streaming face of
    * [[graft.ops.HeavyHitters]]: tokens route to `groups` disjoint
    * substreams by token hash (a token's ENTIRE count lives in one
    * substream), each substream folds a Misra-Gries summary of
    * capacity k−1 as its `flatMapGroupsWithState` state. The batch
    * operator's superset guarantee carries over: an item with global
    * count > N/k has count > n_g/k within its own substream (n_g ≤ N),
    * so it survives that substream's summary — the emitted candidate
    * union is a superset of the true heavy hitters at every batch
    * boundary, and the exact-recount pass stays a batch job over the
    * ingested corpus. State per group is ≤ k−1 counters, so total
    * state is groups·(k−1) entries regardless of stream volume.
    *
    * Each micro-batch's tokens fold in SORTED order (per group) and
    * the batch emits the group's full post-fold candidate set tagged
    * with a monotone `ver` — deterministic given the batch split, so
    * the spec can replay the same split sequentially and compare
    * final candidate sets exactly.
    */
  def heavyHittersStream(docs: DataFrame, textCol: String,
                         k: Int, groups: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(explode(split(col(textCol), " ")).as("tok"))
      .select(pmod(xxhash64(col("tok")), lit(groups)).as("grp"), col("tok"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (grp: Long, it: Iterator[(Long, String)],
         state: GroupState[(Long, Map[String, Long])]) => {
          val (ver, carried) = state.getOption.getOrElse((0L, Map.empty[String, Long]))
          val counters = scala.collection.mutable.HashMap[String, Long](carried.toSeq: _*)
          graft.ops.HeavyHitters.misraGriesFold(
            counters, it.map(_._2).toSeq.sorted.iterator, k)
          state.update((ver + 1, counters.toMap))
          counters.iterator.map { case (tok, c) => (grp, tok, c, ver + 1) }
        })
      .toDF("grp", "tok", "mg_count", "ver")
  }

  /** EXACTLY-ONCE store ingest — the foreachBatch sink over
    * [[graft.core.Store.appendBatch]]: Structured Streaming
    * redelivers a failed epoch with the SAME batchId, and the
    * batchId-keyed segment layout makes the re-append a no-op, so
    * restart/redelivery never duplicates a row in the store (the
    * at-least-once gap [[graft.core.Store.append]]'s DELIVERY note
    * used to name). `compactEvery` > 0 folds index segments every N
    * batches from INSIDE the same foreachBatch — the single-writer
    * contract's sanctioned compaction point.
    */
  def storeIngest(docs: DataFrame, dir: String, spec: graft.core.IndexSpec,
                  compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch(
      (b: DataFrame, id: Long) => {
        graft.core.Store.appendBatch(b, dir, spec, id)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
          graft.core.Store.compact(b.sparkSession, dir)
        ()
      })

  /** EXACTLY-ONCE streaming UPSERT — the CDC sink (r13): each
    * micro-batch REPLACES rows by key via
    * [[graft.core.Store.upsertBatch]], whose tombstone/segment pair
    * both key on the batchId, so a redelivered epoch repairs or
    * no-ops instead of duplicating (incl. the half-committed upsert
    * window — see upsertBatch's crash table). The append-only twin
    * is [[storeIngest]]; a stream uses one or the other — the two id
    * mappings must not interleave on one store.
    */
  def storeUpsert(docs: DataFrame, dir: String, spec: graft.core.IndexSpec,
                  keyCol: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch(
      (b: DataFrame, id: Long) => {
        graft.core.Store.upsertBatch(b, dir, spec, keyCol, id)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
          graft.core.Store.compact(b.sparkSession, dir)
        ()
      })

  def curateStream(docs: DataFrame, textCol: String, idCol: String,
                   minQuality: Double = 0.6): DataFrame = {
    import graft.ops.Curation
    // one projection: the quality score from the ORIGINAL text (the
    // gate must judge the document, not the redaction tags) plus the
    // scrubbed text that survives downstream
    docs
      .withColumn("scrubbed",
        regexp_replace(
          regexp_replace(col(textCol), Curation.EmailRe, "<EMAIL>"),
          Curation.PhoneRe, "<PHONE>"))
      .select(col(idCol).as("doc_id"), col("scrubbed"),
        graft.ops.TextAnalysis.qualityCol(col(textCol)).as("quality"))
      .where(col("quality") >= minQuality)
  }
}
