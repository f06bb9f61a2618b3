package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming operators over the `events` schema
  * (SURVEY.md §2B streaming row + §2C streaming dedup).
  *
  * The reference has NO event-time logic (late/invalid timestamps just
  * become now(), main.go:88-110) — these are the north-star operators:
  * watermarked tumbling windows, session windows, dedup-within-
  * watermark, and custom per-key running state.
  *
  * Every transform here is a pure Dataset function usable on both a
  * streaming and a batch frame (Spark's unified API), so the specs
  * cross-check streaming output against the batch twin. For the same
  * reason an operator whose streaming face would only forward to its
  * batch definition has no entry here: the row-local projections and
  * sketch aggregations in `graft.ext` (e.g.
  * [[graft.ext.Profiling.cmCellsFor]],
  * [[graft.ext.Similarity.assignCells]]) run on the streaming frame
  * directly.
  */
object EventsStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class UserStat(user_id: Long, n_events: Long, total_value: Double)

  /** Replay a directory of events parquet files as a stream (file
    * source; the source requires a DIRECTORY — stage single files into
    * one; each new file = one micro-batch).
    */
  def replay(spark: SparkSession, eventsDir: String): DataFrame = {
    // same TIMESTAMP(NANOS) handling as Tables.load — the streaming
    // source reads the raw schema, so ts arrives either as a nanosecond
    // Long (Spark builds honoring the nanosAsLong legacy conf) or as a
    // native micros-truncated TIMESTAMP_NTZ (builds where SPARK-40819's
    // conf is gone). Watermarking requires TIMESTAMP (LTZ) event time,
    // so both arrivals converge there; the session zone is pinned UTC,
    // so the NTZ→LTZ cast preserves wall-clock and the streaming
    // windows stay value-identical to the NTZ batch twins.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    val raw = spark.readStream.schema(schema).parquet(eventsDir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Watermarked tumbling-window aggregation (batch twin:
    * LogQueries.eventsTumblingWindow). 10-minute lateness bound: later
    * rows are dropped and their window state is reclaimed — bounded
    * state at any scale.
    */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding 6h/3h windows (batch twin: LogQueries.eventsSlidingWindow).
    * Same watermark bound; each event contributes to two overlapping
    * windows, expanded before the stateful aggregation.
    */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))

  /** Session windows with a 30-minute gap (batch twin:
    * LogQueries.eventsSessionize computes the same sessions with lag +
    * cumulative sum).
    */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sess_start"),
              col("session_window.end").as("sess_end"),
              col("user_id"), col("n_events"))

  /** Streaming exact dedup on event_id, state bounded by the watermark
    * (the §2C "streaming dedup" operator).
    */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Two-tier streaming dedup for a rolling ingest: drop events whose
    * id already exists in a STATIC store (the previous corpus — e.g. a
    * `ParquetStore` read), then watermark-dedup within the stream
    * itself. The stream-static leg is a left-anti join re-planned per
    * micro-batch, so Catalyst broadcasts a small store and
    * shuffle-joins a large one; the in-stream leg keeps only
    * watermark-bounded state. This is the "dedup the new crawl against
    * what we already have" pattern a training-data pipeline runs on
    * every ingest cycle.
    */
  def dedupAgainstStore(events: DataFrame, known: DataFrame): DataFrame =
    dedup(events.join(known.select(col("event_id")), Seq("event_id"), "left_anti"))

  /** Stream-stream event-time interval join: correlate two event streams
    * on user_id where the right event lands within `[l_ts, l_ts +
    * maxDelay]` — click→purchase attribution, request→response pairing.
    * Both sides are watermarked and the join condition carries the time
    * bound, so Spark can expire buffered rows on BOTH sides once the
    * watermark passes their interval: state stays bounded by
    * `maxDelay + lateness` of stream data, not stream length.
    *
    * Pure Dataset function (unified API): on batch frames the watermark
    * nodes are optimized away and the same code is the oracle-checked
    * batch twin (`events_interval_join`). The equi key (user_id) keeps
    * the join hash-partitioned at any scale; the range predicate is a
    * post-filter, never a nested loop.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, maxDelay: String = "6 hours",
      lateness: String = "10 minutes", joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", lateness)
      .select(col("event_id").as("l_id"), col("user_id"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", lateness)
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"), col("ts").as("r_ts"))
    l.join(r,
        col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxDelay"),
        // left_outer: a click with no action inside its interval is
        // emitted with nulls once the watermark proves no action can
        // still arrive — the "unconverted click" row, for free, from
        // the same state the inner join already keeps
        joinType)
      .select(col("user_id"), col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
  }

  final case class DocBand(doc_id: Long, band: Int, bsig: Long)
  final case class DupCandidate(doc_id: Long, dup_of: Long)

  /** Streaming NEAR-duplicate detection: the batch LSH pipeline's
    * per-row expressions ([[graft.functions.NgramShingles]] →
    * [[graft.functions.MinHashBands]]) run unchanged inside the stream,
    * and each (band, bsig) LSH bucket keeps ONE stateful owner — the
    * first document that ever hashed there. A later document colliding
    * with an owned bucket is emitted as a near-dup candidate of that
    * owner (once per colliding band; callers `distinct` or aggregate).
    *
    * Contracts vs the batch path: no df-cap (document frequency is a
    * global statistic a stream cannot see) and no exact-Jaccard verify
    * (the owner's shingles are not retained — only 8 bytes per bucket).
    * Docs shorter than the shingle width (empty shingle set) emit NO
    * candidates — same as the batch path, where an empty set pairs with
    * nothing. This is the candidate tier: route candidates to the batch
    * verifier over the store for exactness. State is one long per
    * distinct bucket, so memory grows with corpus novelty, not stream
    * length; production runs bound it with a state-store TTL.
    */
  def nearDupCandidates(docs: DataFrame, n: Int = 8,
      numHashes: Int = 128, bands: Int = 32): Dataset[DupCandidate] = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val banded = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.functions.GraftFunctions.ngramShingles(col("text"), n).as("shingles"))
      // a doc shorter than the shingle width has an EMPTY shingle set;
      // its MinHash signature would be the degenerate all-initial
      // vector, so every such doc would collide with the first one in
      // all bands and be emitted as its "near-dup" (ADVICE r4) — drop
      // them before banding, matching the batch contract above
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.minhashBands(
          col("shingles"), numHashes, bands)).as(Seq("band", "bsig")))
      .as[DocBand]
    banded.groupByKey(b => (b.band, b.bsig))
      .flatMapGroupsWithState[Long, DupCandidate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), rows: Iterator[DocBand], state: GroupState[Long]) =>
          val ids = rows.map(_.doc_id).toSeq.sorted
          val owner = state.getOption.getOrElse(ids.head)
          if (!state.exists) state.update(owner)
          ids.filter(_ != owner).distinct.map(d => DupCandidate(d, owner)).iterator
      }
  }

  final case class MediaBand(media_id: Long, band: Int, bv: Long)
  final case class MediaDupCandidate(media_id: Long, dup_of: Long)

  /** Streaming image near-dup candidates — the [[nearDupCandidates]]
    * shape applied to the multimodal column (round 9): payloads decode
    * and dHash row-locally inside the stream
    * ([[graft.ext.Multimodal.phashes]] is a stateless mapPartitions,
    * streaming-safe), band into 64/`bands`-bit slices exactly like the
    * batch [[graft.ext.Multimodal.phashNearDupPairs]], and each
    * (band, slice) bucket keeps ONE stateful owner — a later image
    * colliding with an owned bucket is emitted as a near-dup candidate
    * of that owner (once per colliding band; callers `distinct`).
    *
    * Candidate tier like the text twin: no Hamming verify (the owner's
    * full hash is not retained — 8 bytes of state per distinct bucket),
    * so route candidates to the batch verifier for exactness. By
    * pigeonhole, any arriving image within Hamming < `bands` of a
    * bucket OWNER shares at least one slice with it and is guaranteed
    * to surface. Undecodable payloads drop like codec errors, matching
    * the batch path. State grows with image novelty, not stream length;
    * production bounds it with a state-store TTL.
    */
  def imageNearDupCandidates(media: DataFrame, bands: Int = 4): Dataset[MediaDupCandidate] = {
    // mirror the batch path's guard (Multimodal.phashNearDupPairs —
    // ADVICE r9): bands=0 divides by zero, bands>64 gives width 0 and a
    // degenerate all-zero mask, bands∤64 drops the top bits from every
    // slice and silently weakens the pigeonhole guarantee
    require(bands >= 1 && 64 % bands == 0, s"bands must divide 64, got $bands")
    val spark = media.sparkSession
    import spark.implicits._
    val width = 64 / bands
    val mask = (1L << width) - 1
    val banded = graft.ext.Multimodal.phashes(media)
      .select(col("media_id"),
        explode(array((0 until bands).map(i =>
          struct(lit(i).as("band"),
            shiftrightunsigned(col("phash"), width * i).bitwiseAND(lit(mask)).as("bv"))): _*)).as("b"))
      .select(col("media_id"), col("b.band").as("band"), col("b.bv").as("bv"))
      .as[MediaBand]
    banded.groupByKey(b => (b.band, b.bv))
      .flatMapGroupsWithState[Long, MediaDupCandidate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), rows: Iterator[MediaBand], state: GroupState[Long]) =>
          val ids = rows.map(_.media_id).toSeq.sorted
          val owner = state.getOption.getOrElse(ids.head)
          if (!state.exists) state.update(owner)
          ids.filter(_ != owner).distinct.map(m => MediaDupCandidate(m, owner)).iterator
      }
  }

  final case class VecCell(vec_id: Long, cell_id: Long)
  final case class SemDupCandidate(vec_id: Long, dup_of: Long, cell_id: Long)

  /** Streaming SEMANTIC dedup candidates (round 10 — the SemDeDup twin
    * of [[nearDupCandidates]]/[[imageNearDupCandidates]]): embeddings
    * arriving on a stream are assigned to their nearest-centroid cell
    * by the SAME nearest-centroid kernel as the batch path
    * ([[graft.ext.Similarity.assignCells]] — stateless, streaming-safe),
    * and each cell keeps ONE stateful owner: the first vector that ever
    * landed there. Every later arrival in an owned cell is emitted as a
    * semantic-dup candidate of that owner.
    *
    * Candidate tier like the other two twins: no τ-cosine verify (the
    * owner's vector is not retained — 8 bytes of state per cell) and
    * first-arrival ownership rather than the batch path's
    * closest-to-centroid ranking, which needs the whole cell. Route
    * candidates to the batch [[graft.ext.Similarity.semanticDedup]]
    * over the store for the exact τ prune. State is bounded by the
    * CENTROID COUNT — K longs total, regardless of stream length — the
    * tightest state bound of the three dedup twins.
    */
  def semanticDedupCandidates(vecs: DataFrame,
      centroids: Array[(Long, Array[Float])]): Dataset[SemDupCandidate] = {
    val spark = vecs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val assigned = graft.ext.Similarity.assignCells(vecs, centroids)
      .select(col("vec_id").cast("long").as("vec_id"), col("cell_id")).as[VecCell]
    assigned.groupByKey(_.cell_id)
      .flatMapGroupsWithState[Long, SemDupCandidate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (cell: Long, rows: Iterator[VecCell], state: GroupState[Long]) =>
          val ids = rows.map(_.vec_id).toSeq.sorted
          val owner = state.getOption.getOrElse(ids.head)
          if (!state.exists) state.update(owner)
          ids.filter(_ != owner).distinct.map(v => SemDupCandidate(v, owner, cell)).iterator
      }
  }

  final case class BucketTok(bucket: Int, tok: String)
  final case class HeavyCandidate(bucket: Int, ver: Long, tok: String, est: Long)

  /** Streaming heavy-hitter candidates: the online face of
    * [[graft.ext.Profiling.heavyHitters]], for live corpus monitoring
    * (a surging spam token, a scraper loop flooding one phrase) where
    * waiting for the nightly profile means ingesting the flood first.
    *
    * Tokens hash into `buckets` groups and each group maintains ONE
    * Misra-Gries summary ([[graft.functions.FreqBuffer]] — the same
    * mergeable sketch the batch aggregate uses) in its state store,
    * serialized via the sketch's own byte codec. Each micro-batch a
    * touched bucket folds its new tokens in and re-emits its full
    * candidate list stamped with a monotone `ver` (Update-mode
    * changelog: readers keep, per bucket, the max-`ver` snapshot —
    * an untouched bucket's older snapshot is still its current state).
    *
    * Guarantees carried over from MG: every token whose TRUE count
    * exceeds bucketTotal/(capacity+1) is present in its bucket's
    * candidates (completeness — a corpus-wide φ-heavy token is at
    * least that heavy inside its own bucket, since all its copies
    * share one bucket), and every `est` is a lower bound on the true
    * count. Candidate tier like the dedup twins: route candidates to
    * an exact re-count (the batch path's verify leg) for final truth.
    * State is bounded by `buckets × capacity` counters regardless of
    * stream length or vocabulary size.
    */
  def heavyHitterCandidates(tokens: DataFrame, buckets: Int = 32,
      capacity: Int = 1024): Dataset[HeavyCandidate] = {
    require(buckets >= 1 && capacity >= 1,
      s"buckets/capacity must be positive, got $buckets/$capacity")
    val spark = tokens.sparkSession
    import spark.implicits._
    val keyed = tokens
      .select(col("tok").cast("string").as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(buckets)).cast("int"))
      .as[BucketTok]
    keyed.groupByKey(_.bucket)
      .flatMapGroupsWithState[(Long, Array[Byte]), HeavyCandidate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (bucket: Int, rows: Iterator[BucketTok], state: GroupState[(Long, Array[Byte])]) =>
          val (ver, bytes) = state.getOption.getOrElse((0L, Array.empty[Byte]))
          val buf =
            if (bytes.isEmpty) new graft.functions.FreqBuffer(capacity)
            else graft.functions.FreqBuffer.fromBytes(capacity, bytes)
          rows.foreach(r => buf.add(r.tok))
          val nextVer = ver + 1
          state.update((nextVer, buf.toBytes))
          buf.sortedEntries.iterator.map { case (t, c) =>
            HeavyCandidate(bucket, nextVer, t, c)
          }
      }
  }

  final case class ContamHit(vec_id: Long, eval_id: Long)

  /** Streaming SEMANTIC decontamination (round 10): flag embeddings as
    * they arrive against a STATIC eval-set frame — the online face of
    * [[graft.ext.Corpus.decontaminateSemantic]], for pipelines that
    * must reject paraphrased-benchmark leakage at ingest time instead
    * of in a nightly sweep. Same contract end-to-end: sign-bucket
    * equi-join, broadcast eval side, 6-dp-rounded τ-cosine — so batch
    * agreement is row-level, not statistical.
    *
    * Unlike the three dedup twins this needs NO state at all: the eval
    * set is a static frame, so each micro-batch is a stream-static
    * broadcast join — stateless, watermark-free, trivially scalable
    * (the stream side never shuffles). Emits one (vec_id, eval_id) row
    * per τ-close eval partner; route downstream for aggregation or
    * quarantine. The bucket-split recall trade and its multi-probe
    * remedy are the batch path's, documented there.
    */
  def decontamHits(vecs: DataFrame, evalSet: DataFrame, tau: Double = 0.4): Dataset[ContamHit] = {
    val spark = vecs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    import graft.ext.Similarity
    val ev = evalSet
      .select(col("vec_id").cast("long").as("eval_id"), col("embedding").as("ev"))
      .withColumn("bucket", Similarity.signBucket(col("ev")))
    vecs.withColumn("bucket", Similarity.signBucket(col("embedding")))
      .join(broadcast(ev), Seq("bucket"))
      .filter(round(Similarity.cosine(col("embedding"), col("ev")), 6) >= tau)
      .select(col("vec_id").cast("long").as("vec_id"), col("eval_id"))
      .as[ContamHit]
  }

  final case class FunnelUpdate(user_id: Long,
      t_view: Option[java.sql.Timestamp], t_click: Option[java.sql.Timestamp],
      t_purchase: Option[java.sql.Timestamp], stage: Long)

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000) % 1000

  /** Streaming funnel twin of [[graft.queries.LogQueries.funnelFor]]
    * (round 8): the same view→click→purchase state machine with the
    * same 24 h step windows and the same (ts, event_type) tie order,
    * held as 3 timestamps of per-user state in
    * `flatMapGroupsWithState`. Emits the user's updated funnel row
    * every micro-batch that touches the user (Append mode — downstream
    * keeps the latest per user, the CDC-style contract
    * [[runningUserStats]] also uses).
    *
    * State is watermark-bounded two ways: a COMPLETED funnel (purchase
    * reached) drops its state immediately, and an incomplete one sets
    * an event-time timeout at first-view + 48 h (the longest a funnel
    * can still progress: click ≤ view+24 h, purchase ≤ click+24 h) plus
    * `graceMs` for lateness — when the watermark passes it, the state
    * is reclaimed. A power user costs 3 timestamps, not an event list.
    * Within-batch order is restored by sorting the (small) per-batch
    * iterator; cross-batch order is the file-replay contract the specs
    * drive (event-time-ordered micro-batches), same as the other
    * agreement twins.
    */
  def funnel(events: Dataset[Event], graceMs: Long = 10 * 60 * 1000L): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    val H24 = 24L * 3600 * 1000000L // micros
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelUpdate, FunnelUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[FunnelUpdate]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(FunnelUpdate(uid, None, None, None, 0L))
            var tv = prev.t_view; var tc = prev.t_click; var tp = prev.t_purchase
            // same tie order as the batch fold's sort_array(struct(ts, et))
            batch.toSeq.sortBy(e => (micros(e.ts), e.event_type)).foreach { e =>
              e.event_type match {
                case "view" if tv.isEmpty => tv = Some(e.ts)
                case "click" if tv.nonEmpty && tc.isEmpty &&
                    micros(e.ts) > micros(tv.get) &&
                    micros(e.ts) <= micros(tv.get) + H24 => tc = Some(e.ts)
                case "purchase" if tc.nonEmpty && tp.isEmpty &&
                    micros(e.ts) > micros(tc.get) &&
                    micros(e.ts) <= micros(tc.get) + H24 => tp = Some(e.ts)
                case _ =>
              }
            }
            val stage = if (tp.nonEmpty) 3L else if (tc.nonEmpty) 2L else if (tv.nonEmpty) 1L else 0L
            val next = FunnelUpdate(uid, tv, tc, tp, stage)
            if (tp.nonEmpty) state.remove() // complete: nothing can change
            else if (tv.isEmpty) {
              // ADVICE r8: an all-None state carries no information, and
              // without t_view no timeout is ever set — storing it would
              // leak state forever for users whose events never include a
              // qualifying view. Skip the update so every STORED key has
              // an event-time timeout and eviction stays watermark-bounded.
              if (state.exists) state.remove()
            } else {
              state.update(next)
              tv.foreach { t =>
                // strictly above the current watermark or Spark rejects it
                val horizon = t.getTime + 48L * 3600 * 1000 + graceMs
                state.setTimeoutTimestamp(math.max(horizon, state.getCurrentWatermarkMs() + 1))
              }
            }
            Iterator.single(next)
          }
      }
  }

  final case class RetentionHit(cohort_day: Long, day_offset: Long, user_id: Long)
  final case class RetentionState(cohortDay: Long, seenMask: Int)

  /** Streaming retention twin of
    * [[graft.queries.LogQueries.eventsRetention]] (round 8): per-user
    * state is the cohort day (the user's first event date, UTC) plus an
    * 8-bit mask of day offsets already reported — a first-seen
    * (cohort, offset, user) triple is emitted exactly once, so the
    * retention matrix is the running `groupBy(cohort, day_offset)
    * count` of this stream's output (the spec folds it exactly that
    * way against the batch query). Offsets past 7 are outside the
    * matrix and never touch state.
    *
    * State: 12 bytes per user, evicted by an event-time timeout once
    * the watermark passes cohort day + 8 (no offset ≤ 7 can still
    * arrive) — bounded by the ACTIVE cohort population, not stream
    * length or event volume.
    */
  def retentionHits(events: Dataset[Event], graceMs: Long = 10 * 60 * 1000L): Dataset[RetentionHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, RetentionHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[RetentionState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val days = batch
              .map(e => e.ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate.toEpochDay)
              .toSeq.sorted
            val prev = state.getOption
            val cohort = prev.map(_.cohortDay).getOrElse(days.head)
            var mask = prev.map(_.seenMask).getOrElse(0)
            val fresh = Seq.newBuilder[RetentionHit]
            days.foreach { d =>
              val off = d - cohort
              if (off >= 0 && off <= 7) {
                val bit = 1 << off.toInt
                if ((mask & bit) == 0) { mask |= bit; fresh += RetentionHit(cohort, off, uid) }
              }
            }
            state.update(RetentionState(cohort, mask))
            val horizon = (cohort + 9) * 86400000L + graceMs
            state.setTimeoutTimestamp(math.max(horizon, state.getCurrentWatermarkMs() + 1))
            fresh.result().iterator
          }
      }
  }

  /** Custom keyed state: running per-user count/total via
    * flatMapGroupsWithState — the escape hatch for state machines the
    * built-in windows can't express. Emits one updated row per user per
    * micro-batch.
    */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserStat, UserStat](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(userId, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          batch.foreach { e => n += 1; total += e.value }
          val next = UserStat(userId, n, total)
          state.update(next)
          Iterator.single(next)
      }
  }

  final case class ChunkKey(doc_id: Long, chunk_id: Long, chunk_md5: String)
  final case class ChunkDupCandidate(doc_id: Long, chunk_id: Long, owner: Long, chunk_md5: String)

  /** Streaming CHUNK-level exact-dup candidates: the online face of
    * [[graft.ext.Corpus.chunkOverlap]] composed with exact dedup —
    * arriving documents chunk row-locally with the batch chunker's
    * exact windows (64-token / 48-stride, integer-ceil last start),
    * and each chunk_md5 bucket keeps ONE stateful owner: a later
    * document re-serving an already-seen chunk (boilerplate headers,
    * syndicated passages, re-crawled pages) surfaces immediately as a
    * candidate against the first owner instead of at the nightly
    * chunk-dedup batch.
    *
    * Same owner pattern as the text/image/semantic twins; state is one
    * long per DISTINCT chunk hash (the md5 key itself is the group
    * key). Exactness: md5 equality IS the batch chunk-dedup predicate,
    * so unlike the banded twins there is no verify tier — candidates
    * are true duplicates up to md5 collision. A doc's own repeated
    * chunk (overlap regions repeat tokens, not chunks — windows
    * differ) cannot self-collide because the owner is recorded
    * per-hash across docs and a doc never emits the same (start,
    * window) twice.
    */
  def chunkDupCandidates(docs: DataFrame,
      window: Int = 64, stride: Int = 48): Dataset[ChunkDupCandidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // THE batch chunk projection, not a copy — batch/stream key
    // identity is by construction (graft.ext.Corpus.chunkFrame)
    val chunks = graft.ext.Corpus.chunkFrame(docs, window, stride)
      .select(col("doc_id"), col("chunk_id"), col("chunk_md5"))
      .as[ChunkKey]
    chunks.groupByKey(_.chunk_md5)
      .flatMapGroupsWithState[Long, ChunkDupCandidate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (h: String, rows: Iterator[ChunkKey], state: GroupState[Long]) =>
          val rs = rows.toSeq.sortBy(r => (r.doc_id, r.chunk_id))
          val owner = state.getOption.getOrElse(rs.head.doc_id)
          if (!state.exists) state.update(owner)
          rs.filter(_.doc_id != owner)
            .map(r => ChunkDupCandidate(r.doc_id, r.chunk_id, owner, h)).iterator
      }
  }

  /** Streaming chunk-vs-store dedup — the chunk-granularity sibling of
    * [[dedupAgainstStore]] and the online face of
    * [[graft.ext.Corpus.chunkIncremental]]'s corpus leg: arriving
    * documents chunk ROW-LOCALLY with the batch chunker's exact
    * windows, then a stream-static left join against the standing
    * corpus's chunk index ([[graft.ext.Corpus.chunkIndex]] — built by
    * the same expression, so stream and batch judge identical keys)
    * flags every re-served chunk with its canonical corpus owner. The
    * static side is re-planned per micro-batch, so Catalyst broadcasts
    * a small index and shuffle-joins a large one; NO streaming state at
    * all (unlike [[chunkDupCandidates]], which tracks within-stream
    * owners — compose both for the full two-tier decision).
    *
    * Exactness: md5 equality IS the batch predicate, so the flags are
    * row-identical to [[graft.ext.Corpus.chunkIncremental]]'s
    * `dup_of_corpus`/`corpus_owner` columns — asserted by the
    * batch-agreement spec.
    */
  def chunkDedupAgainstStore(docs: DataFrame, corpusIndex: DataFrame,
      window: Int = 64, stride: Int = 48): DataFrame =
    graft.ext.Corpus.chunkFrame(docs, window, stride)
      .select(col("doc_id"), col("chunk_id"), col("chunk_md5"))
      .join(corpusIndex.select(col("chunk_md5"), col("corpus_owner")), Seq("chunk_md5"), "left")
      .select(col("doc_id"), col("chunk_id"), col("chunk_md5"),
        coalesce(col("corpus_owner"), lit(-1L)).as("corpus_owner"),
        col("corpus_owner").isNotNull.as("dup_of_corpus"))

  /** Streaming mixture monitor — the online face of
    * [[graft.ext.Corpus.mixtureDrift]]: per-source running token
    * shares over the arriving stream, checked against the batch target
    * shares, so a crawl whose domain mix drifts off plan (one source
    * surging, a new source appearing) flags within the first
    * micro-batches instead of at the nightly drift report.
    *
    * Same construction discipline as [[embeddingDriftMonitor]]: the
    * source universe is a bounded literal from the batch profile, the
    * state is ONE row of |sources|+1 running sums (built-in streaming
    * aggregation with map-side partials — no groupsWithState), and a
    * source OUTSIDE the profile falls into the index-0 UNKNOWN bucket,
    * whose nonzero share IS drift (target 0). Update mode re-emits the
    * per-source rows each touched micro-batch; readers keep the
    * latest. `drifted = |share − target| > tol`.
    */
  def mixtureMonitor(docs: DataFrame, sources: Array[String],
      targetShare: Array[Double], tol: Double = 0.02): DataFrame = {
    require(sources.length == targetShare.length && sources.nonEmpty,
      "source universe and target shares must align and be non-empty")
    val srcLit = typedLit(sources.toIndexedSeq)
    val nameLit = typedLit(("UNKNOWN" +: sources).toIndexedSeq)
    val targetLit = typedLit((0.0 +: targetShare).toIndexedSeq)
    val toks = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      // array_position is 1-based and 0 on a miss — exactly the
      // UNKNOWN-bucket convention we want, no null handling needed
      .withColumn("si", coalesce(array_position(srcLit, col("source")), lit(0L)).cast("int"))
    val sums = (0 to sources.length).map(i =>
      sum(when(col("si") === i, col("n_tok")).otherwise(0L)).as(s"t$i"))
    toks.groupBy()
      .agg(sums.head, sums.tail: _*)
      .withColumn("total", (0 to sources.length).map(i => col(s"t$i")).reduce(_ + _))
      .select(col("total"),
        posexplode(array((0 to sources.length).map(i => col(s"t$i")): _*)).as(Seq("i", "tok")))
      .select(
        try_element_at(nameLit, col("i") + 1).as("source"),
        col("tok"), col("total"),
        (col("tok") / col("total")).as("share"),
        try_element_at(targetLit, col("i") + 1).as("target"))
      .withColumn("drifted", abs(col("share") - col("target")) > tol)
  }

  /** Streaming DSIR scorer — the online face of
    * [[graft.ext.Corpus.dsirSample]]: score documents as they ARRIVE
    * with the batch-trained importance weights, so ingestion can route
    * or prioritize by domain-match instead of waiting for the nightly
    * resampling batch. The batch ratio table is bounded (`nBuckets`
    * rows) and collected once ([[graft.ext.Corpus.dsirRatioQ]] — dense
    * array, unseen buckets pre-filled with the smoothing prior), so
    * scoring is PURE ROW-LOCAL work: hash the doc's word bigrams to
    * buckets, sum the literal-array lookups. No state, no shuffle, no
    * stream-static join to keep warm — the strongest possible
    * streaming shape, and exactly the pattern the batch side's
    * broadcast join compiles to.
    *
    * Exactness: the bucket expression is the batch extractor verbatim
    * and the weights are integer micro-nats, so a streamed doc's
    * (n_feat, logw_q) is bit-identical to the batch join-based
    * aggregate — asserted row-level by the batch-agreement spec.
    * Single-token docs score (0, 0), matching the estimator's support.
    */
  def dsirScoreStream(docs: DataFrame, lamQ: Array[Long], nBuckets: Int = 1024): DataFrame = {
    require(lamQ.length == nBuckets,
      s"ratio table must be dense: ${lamQ.length} entries for $nBuckets buckets")
    val lamLit = typedLit(lamQ.toIndexedSeq)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      // THE batch bucket expression, not a copy — stream/batch weight
      // identity is by construction (review r12)
      .withColumn("bs", expr(graft.ext.Corpus.bigramBucketsSql(nBuckets)))
      .select(col("doc_id"),
        size(col("bs")).cast("long").as("n_feat"),
        // bucket is mod-nBuckets by construction, so the +1 lookup is
        // always in range even under ANSI element_at
        aggregate(col("bs"), lit(0L),
          (acc, b) => acc + element_at(lamLit, (b + 1).cast("int"))).as("logw_q"))
      .withColumn("logw", col("logw_q") / 1000000.0)
  }

  /** Streaming BM25 scorer — the retrieval family's online face
    * (round 13; the one batch family without a streaming twin): score
    * ARRIVING documents against a standing query's BM25 weights so an
    * ingest path can route/alert on retrieval-relevant docs at the
    * door (the "standing query" / alerting pattern of a percolator).
    * The corpus statistics the formula needs — doc count n, summed
    * length sl (avgdl = sl/n), per-term document frequency — are batch
    * artifacts ([[graft.ext.TextAnalysis.bm25Stats]]) inlined as
    * literals, the [[dsirScoreStream]] broadcast-artifact convention;
    * term frequencies come from one row-local array filter per term.
    * PURE row-local: no state, no shuffle, no join.
    *
    * Agreement contract (spec-asserted row-for-row): the weight
    * expression is written operation-for-operation as the batch
    * [[graft.ext.TextAnalysis.bm25ScoresFor]] column — same unfolded
    * constants, same fixed term order, one terminal 6-dp round — so a
    * doc containing ≥1 query term scores bit-identically to the batch
    * face, and a doc with none scores exactly 0.0 (the batch frame
    * simply omits it). Corpus-drift caveat: the literal stats describe
    * the corpus at snapshot time — the stream prices arrivals against
    * the STANDING corpus, which is the percolator semantic.
    */
  def bm25ScoreStream(docs: DataFrame, n: Double, sl: Double,
      dfByTerm: Seq[(String, Long)]): DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("dl", size(col("w")).cast("double"))
    val wTerms = dfByTerm.map { case (t, dfT) =>
      val tf = size(filter(col("w"), x => x === lit(t))).cast("double")
      when(tf > 0,
        log((lit(n) - lit(dfT) + lit(0.5)) / (lit(dfT) + lit(0.5)) + lit(1.0)) *
          tf * (lit(1.2) + lit(1.0)) /
          (tf + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / (lit(sl) / lit(n)))))
        .otherwise(lit(0.0))
    }
    base.select(col("doc_id"),
      round(wTerms.reduce(_ + _), 6).as("score"))
  }

  /** Streaming novelty-vs-store scorer: the online face of
    * [[graft.ext.Dedup.noveltyScores]] for an arriving crawl judged
    * against the STANDING corpus — "how much of this new document have
    * we already got?" Each arriving doc shingles row-locally (the batch
    * [[graft.functions.GraftFunctions.ngramShingles]] expression, so
    * stream and batch count the same universe) and probes every shingle
    * against the corpus's 1 MiB Bloom fingerprint
    * ([[graft.ext.Dedup.noveltyBloom]]) inside one array `filter` —
    * PURE row-local work: no state, no shuffle, no stream-static join,
    * the exact construction discipline of [[dsirScoreStream]].
    *
    * Semantics: Bloom false positives can only OVER-count `n_seen`, so
    * `novel_share_min` is a certified LOWER bound on true novelty (no
    * false negatives — a fully-corpus-covered doc scores exactly 0).
    * The df=1 refinement (is a seen shingle unique or boilerplate?)
    * stays batch-side in `x_novelty`; the stream face answers the
    * routing question (dedup-worthy vs fresh) at wire speed.
    */
  def noveltyAgainstStore(docs: DataFrame, corpusBloom: Array[Byte]): DataFrame = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), GraftFunctions.ngramShingles(col("text"), 8).as("ngs"))
      .select(col("doc_id"),
        size(col("ngs")).cast("long").as("n_sh"),
        size(filter(col("ngs"),
          x => GraftFunctions.bloomMightContain(lit(corpusBloom), x)))
          .cast("long").as("n_seen_max"))
      .withColumn("novel_share_min",
        when(col("n_sh") === 0, lit(0.0))
          .otherwise(round((col("n_sh") - col("n_seen_max")) / col("n_sh"), 6)))
  }

  /** Streaming winnow-match-vs-store: the online face of
    * [[graft.ext.Dedup.winnowFingerprints]] for an arriving crawl —
    * plagiarism/copy detection against the standing corpus at wire
    * speed. Each arriving doc winnows row-locally (the batch
    * [[graft.functions.WinnowSelect]] kernel, so stream and batch
    * fingerprint the same positions) and probes each fingerprint's
    * xxhash64 against the corpus's 1 MiB winnow Bloom
    * ([[graft.ext.Dedup.winnowBloom]]) — stateless, shuffle-free, the
    * [[noveltyAgainstStore]] construction.
    *
    * The guarantee COMPOSES: winnowing is fingerprint-complete for
    * shared runs of ≥ w+k−1 = 7 tokens and the Bloom has no false
    * negatives, so a streamed doc containing a ≥ 7-token copy of any
    * corpus document flags with certainty; bitmap false positives can
    * only raise `n_matched_max`, so `suspect` over-flags, never
    * misses. Flagged docs route to the batch match tier for exact
    * adjudication (the MinHash-candidates → exact-verify discipline).
    */
  def winnowMatchAgainstStore(docs: DataFrame, corpusBloom: Array[Byte]): DataFrame = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), GraftFunctions.winnowSelect(col("text"), 4, 4).as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        size(filter(col("fps"),
          f => GraftFunctions.bloomMightContain(lit(corpusBloom), xxhash64(f))))
          .cast("long").as("n_matched_max"))
      .withColumn("suspect", col("n_matched_max") > 0)
  }

  /** Streaming embedding-drift monitor: the online face of
    * [[graft.ext.Profiling.embeddingStats]] — per-dimension running
    * count/mean/std over arriving vectors, z-scored against a REFERENCE
    * profile (the batch stats of the historical corpus, passed in as
    * literal arrays). `z = (mean − ref_mean) / (ref_std / √n)` is the
    * standard error of the running mean under the reference
    * distribution, so a shifted encoder version or an upstream
    * normalization bug flags within the first micro-batches instead of
    * at the nightly batch profile (|z| > `zThresh`, default 4σ).
    *
    * Built-in streaming aggregation, not groupsWithState: the per-dim
    * (n, Σx, Σx²) running state is exactly what a streaming
    * `groupBy(dim).agg(...)` maintains, with map-side partial merge —
    * the posexplode's rows×dim stream collapses to dim rows per
    * partition BEFORE the shuffle, and state is `dim` rows total
    * whatever the stream length. Update mode re-emits a dimension's row
    * whenever a micro-batch touches it; readers keep the latest per
    * dim. Unbounded-count caveat: Σx/Σx² are plain double accumulators,
    * fine for monitoring (the z-test needs ~2 significant digits);
    * for an exact profile run the batch query.
    */
  def embeddingDriftMonitor(vecs: DataFrame, refMean: Array[Double],
      refStd: Array[Double], zThresh: Double = 4.0): DataFrame = {
    require(refMean.length == refStd.length && refMean.nonEmpty,
      "reference mean/std profiles must be same-length and non-empty")
    val xd = col("x").cast("double")
    // try_element_at, not element_at: ANSI mode (the Spark 4 default)
    // makes element_at THROW past the literal array's end, so the very
    // scenario the monitor exists to catch — an encoder that widened its
    // output beyond the reference profile — would crash the streaming
    // query instead of flagging drift. try_element_at yields null there,
    // which the rm.isNull || rs.isNull drift flag below converts into
    // drifted=true (ADVICE r11; same convention as Dedup's cdcChunks).
    val rm = try_element_at(typedLit(refMean.toIndexedSeq), col("dim").cast("int"))
    val rs = try_element_at(typedLit(refStd.toIndexedSeq), col("dim").cast("int"))
    vecs
      .select(posexplode(col("embedding")).as(Seq("j", "x")))
      .select((col("j") + 1).cast("long").as("dim"), xd.as("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"), sum(col("x") * col("x")).as("s2"))
      .withColumn("mean", col("s") / col("n"))
      .withColumn("std",
        sqrt(greatest((col("s2") - col("s") * col("s") / col("n")) / (col("n") - 1), lit(0.0))))
      .withColumn("z", (col("mean") - rm) / (rs / sqrt(col("n"))))
      // a dimension OUTSIDE the reference profile (encoder widened its
      // output) or with a degenerate reference std (a constant dim that
      // started moving) IS drift — element_at past the literal array and
      // the zero division both yield null z, which must flag, not
      // silently report nothing
      .select(col("dim"), col("n"), col("mean"), col("std"), col("z"),
        (rm.isNull || rs.isNull || rs <= 0.0 || abs(col("z")) > zThresh).as("drifted"))
  }

  /** Streaming TRAINED-filter scorer (round 15, VERDICT r14 #5) — the
    * at-the-door face of the GD-trained quality classifier:
    * [[graft.ext.TextAnalysis.qualityTrain]] is now the canonical
    * scorer (it fits its weights instead of hand-setting them), so the
    * ingest path needs to apply THOSE weights to arriving documents,
    * not the hand-set [[graft.ext.TextAnalysis.qualityScore]] heuristic
    * `stageAssignStream` routes by. The batch-trained weight vector
    * (4 integer micro-units, via the round-15 value memo —
    * `TextAnalysis.qualityWeights`) inlines as literals, the
    * [[dsirScoreStream]] broadcast-artifact convention; features,
    * logit, and score are THE batch expressions
    * (`qualityFeatureExprs` / `qualityZs` / `qualityScoreQ` — not
    * copies), so a streamed doc's (score_q, keep) is bit-identical to
    * the batch row by construction and the batch-agreement spec
    * asserts it row-level. PURE row-local: no state, no shuffle, no
    * join — the strongest streaming shape. The label column stays
    * batch-only (it needs the corpus-level repetition gate); drift
    * note: weights age as the corpus grows — re-train per batch epoch
    * exactly as the DSIR ratio table is.
    */
  def qualityClassifyStream(docs: DataFrame, wQ: Array[Long]): DataFrame = {
    require(wQ.length == 4, s"expected 4 trained weight micro-units, got ${wQ.length}")
    import graft.ext.TextAnalysis
    docs
      .select(col("doc_id"), col("text"), TextAnalysis.qualityNTok.as("n_tok"))
      .select(col("doc_id") +: TextAnalysis.qualityFeatureExprs: _*)
      .withColumn("zs", TextAnalysis.qualityZs(wQ))
      .select(col("doc_id"),
        TextAnalysis.qualityScoreQ.as("score_q"),
        (TextAnalysis.qualityScoreQ > 0).as("keep"))
  }

  /** Streaming curriculum-stage assignment — the online face of
    * [[graft.ext.Corpus.curriculum]]: tag documents with their training
    * stage AS THEY ARRIVE, against the batch-computed exact-quartile
    * boundaries ([[graft.ext.Corpus.curriculumBounds]] — three rounded
    * doubles, broadcast as literals). An ingesting loader can route a
    * doc straight into its stage bucket instead of waiting for the
    * nightly re-quartile. PURE row-local work (score expression +
    * three literal comparisons + the md5 shuffle key): no state, no
    * shuffle, no stream-static join — the [[dsirScoreStream]] shape.
    *
    * Exactness: the score column IS the batch
    * [[graft.ext.TextAnalysis.qualityScore]] expression (not a copy)
    * and the bounds are the batch literals, so a streamed doc's
    * (score, stage) is bit-identical to the batch row — asserted by
    * the batch-agreement spec. Drift note: boundaries age as the
    * corpus grows; re-derive them per batch epoch exactly as the
    * ratio table of [[dsirScoreStream]] is re-trained.
    */
  def stageAssignStream(docs: DataFrame, bounds: Seq[Double]): DataFrame = {
    require(bounds.length == 3 && bounds == bounds.sorted,
      s"expected 3 ascending quartile bounds, got $bounds")
    val easier = bounds
      .map(b => when(col("score") > b, 1L).otherwise(0L))
      .reduce(_ + _)
    docs
      .select(col("doc_id"), graft.ext.TextAnalysis.qualityScore.as("score"))
      .withColumn("stage", lit(4L) - easier)
      .withColumn("shuffle_key",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT)"))
  }

  /** Streaming FUNNEL (round 19 — VERDICT r18 #6): the online face of
    * [[graft.ext.Dedup.filterFunnel]], the one big verdict family that
    * had no twin. Arriving doc ids join the STANDING per-doc gate
    * verdict frame (the nightly [[graft.ext.Dedup.funnelGateFrame]]
    * output, published as a table — the frozen-artifact pattern of
    * [[graft.ext.TextAnalysis.langRouteFor]]: the batch job
    * trains/derives, the stream reads), then the EXACT batch first-fail
    * arithmetic ([[graft.ext.Dedup.funnelStageCounts]] — one
    * definition, not a copy) counts survivors per gate across
    * everything ingested so far: a stream–static LEFT join (stateless)
    * into the single complete-mode aggregation, ≤7 rows of state EVER.
    * The ingest path reports survivors-per-gate online instead of
    * waiting for the nightly funnel; spec asserts the streamed counts
    * equal the batch funnel's `n_surviving` column after full corpus
    * replay.
    *
    * Stale-gate surfacing (ADVICE r19): an arriving doc_id ABSENT
    * from the standing gate table (the nightly publish lagging
    * ingest) lands in the loud `stage_idx = -1` bucket instead of
    * being silently dropped by an inner join — a stale gate table
    * shows up as a growing ungated count, never as a deflated funnel.
    *
    * At-least-once caveat: a re-delivered doc_id double-counts its
    * surviving stages (the join+count is not idempotent, unlike the
    * KMV insert) — run behind exactly-once sinks or a streaming
    * dropDuplicates on doc_id upstream.
    */
  def funnelStream(docs: DataFrame, gates: DataFrame): DataFrame =
    graft.ext.Dedup.funnelStageCounts(
      docs.select(col("doc_id")).join(gates, Seq("doc_id"), "left"))

  /** Streaming A-ES weighted reservoir (round 17) — the at-the-door
    * face of [[graft.ext.Corpus.sampleWeighted]]: arriving documents
    * score their trained-filter probability ROW-LOCALLY with the exact
    * batch expressions ([[qualityClassifyStream]]'s literal-weight
    * convention + the shared `qualityQpCol` sigmoid), draw their
    * quantized Efraimidis–Spirakis key with the SHARED
    * [[graft.ext.Corpus.weightedKeyCols]] projection (one definition,
    * not a copy), and a streaming [[graft.functions.TopKByScore]]
    * aggregation maintains the k smallest keys — k rows of state,
    * EVER: the classic weighted reservoir, maintained online instead
    * of re-sampled nightly. Batch agreement is asserted row-for-row in
    * spec. Replay caveat: unlike the KMV/HLL sketches, TopKByScore
    * keeps duplicate ids, so a re-delivered document can enter the
    * reservoir twice — at-least-once sensitive like
    * [[graft.ext.Profiling.cmCellsFor]]'s counters; run with
    * exactly-once sinks or dedup upstream.
    */
  def weightedSampleStream(docs: DataFrame, wQ: Array[Long], k: Int = 20): DataFrame = {
    require(wQ.length == 4, s"expected 4 trained weight micro-units, got ${wQ.length}")
    // the sibling-face fallback (review r17): a session built without
    // GraftExtensions still resolves topk_by_score
    graft.functions.GraftFunctions.register(docs.sparkSession)
    import graft.ext.{Corpus, TextAnalysis}
    val scored = docs
      .select(col("doc_id"), col("text"), TextAnalysis.qualityNTok.as("n_tok"))
      .select(col("doc_id") +: TextAnalysis.qualityFeatureExprs: _*)
      .withColumn("zs", TextAnalysis.qualityZs(wQ))
      .withColumn("qz6", TextAnalysis.qualityScoreQ)
      .withColumn("qp", TextAnalysis.qualityQpCol)
      .select(col("doc_id"), col("qp"))
    Corpus.weightedKeyCols(scored)
      .groupBy()
      .agg(graft.functions.GraftFunctions
        .topKByScore((-col("key_micro")).cast("double"), col("doc_id"), k).as("top"))
  }

  /** Template-boilerplate router (round 17) — the at-the-door face of
    * the template family: arriving documents explode their lines with
    * the exact batch projection
    * ([[graft.ext.TextAnalysis.templateLineInst]] — one definition,
    * not a copy), join the STANDING per-source template set (the
    * (source, lh) frame `x_template_lines` maintains — the
    * repetitive minority, broadcastable), and report per doc its line
    * count, template-line count, micro boilerplate share, and the
    * keep verdict (strictly less than half template mass) — the
    * chrome-heavy-page gate a crawler runs before a page enters the
    * corpus. A `foreachBatch` body (the [[pplBandFor]] convention):
    * per-doc aggregation is plain batch work inside the micro-batch,
    * ZERO streaming state.
    *
    * `width` pins the router's line universe to the SAME alignment
    * the standing template frame was built at (ADVICE r17: a
    * width-mismatched frame would silently match nothing and wave
    * every doc through as n_template = 0 / keep = true) — pass the
    * width `tmpl` was built with; the default matches
    * [[graft.ext.TextAnalysis.templateLines]]'s default.
    */
  def templateRouteFor(docs: DataFrame, tmpl: DataFrame, width: Int = 4): DataFrame =
    graft.ext.TextAnalysis.templateLineInst(docs, width)
      .join(broadcast(tmpl.select(col("source"), col("lh"))
        .withColumn("is_t", lit(1L))), Seq("source", "lh"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_lines"),
        sum(coalesce(col("is_t"), lit(0L))).as("n_template"))
      .select(col("doc_id"), col("source"), col("n_lines"), col("n_template"),
        expr("n_template * 1000000 DIV n_lines").as("boilerplate_pct_micro"),
        (col("n_template") * 2 < col("n_lines")).as("keep"))

  /** Perplexity-band router (round 13; round 14: per-language model,
    * per-key joins) — the online face of
    * [[graft.ext.TextAnalysis.pplBuckets]], CCNet's head/middle/tail
    * routing applied AT THE DOOR: arriving documents score against the
    * STANDING per-language count tables of
    * [[graft.ext.TextAnalysis.lmLangTable]] (the artifact CCNet loads
    * from its per-language KenLM models) and band against the batch
    * terciles' nll boundaries broadcast as literals. Written as a
    * foreachBatch body (a function over each arriving micro-batch
    * frame): the per-doc NLL aggregate is then a plain BATCH aggregate
    * over docs that arrived whole — no streaming aggregation state at
    * all, the strictest reading of the bounded-state discipline; the
    * LM tables join stream-static and re-plan per micro-batch.
    *
    * Semantics vs batch: identical smoothing arithmetic against the
    * per-LANGUAGE count tables (round 14 — the conditioned model of
    * [[graft.ext.TextAnalysis.lmScoreLangFor]]). The three tables
    * left-join each on its OWN key — bigram on (lang, w1, w2), context
    * on (lang, w1), unigram on (lang, w2) — so an unseen BIGRAM still
    * sees its context and word counts and the unigram interpolation
    * leg keeps separating ordinary words from garble (ADVICE r13: the
    * old single pre-merged table zeroed all three counts together,
    * re-introducing the add-one inversion on exactly the novel text a
    * router exists to band). A document in a language the standing LM
    * never trained on falls back to the corpus-wide (V, T) scalars for
    * the smoothing denominators (all its counts miss → pure unseen
    * mass) and bands tail via the −∞ boundary. Banding by boundary
    * value assigns an nll exactly EQUAL to a boundary to the lower
    * band — now bit-identical to the batch face's own boundary-compare
    * contract (round 14), including on ties.
    */
  def pplBandFor(arrivals: DataFrame, lm: graft.ext.TextAnalysis.LmLangModel,
      bounds: Map[String, (Double, Double)]): DataFrame = {
    val headMax = bounds.map { case (l, (h, _)) => (l, h) }
    val midMax = bounds.map { case (l, (_, m)) => (l, m) }
    def lookup(m: Map[String, Double]): org.apache.spark.sql.Column =
      m.foldLeft(lit(Double.NegativeInfinity)) { case (acc, (l, v)) =>
        when(col("lang") === lit(l), lit(v)).otherwise(acc)
      }
    // the scoring kernel is TextAnalysis.lmScoreUnder — one definition
    // shared with the incremental-merge query, so the stream's addends
    // match the batch face term-for-term by construction
    graft.ext.TextAnalysis.lmScoreUnder(arrivals, lm)
      .withColumn("bucket",
        when(col("avg_nll") <= lookup(headMax), "head")
          .when(col("avg_nll") <= lookup(midMax), "middle")
          .otherwise("tail"))
  }

  /** Streaming eval-burn monitor — the online face of
    * [[graft.ext.Corpus.evalLeakage]]: watch benchmark items burn AS
    * THE CRAWL INGESTS. Arriving corpus docs shingle row-locally with
    * the batch [[graft.functions.GraftFunctions.ngramShingles]]
    * expression (same universe by construction), a stream-static join
    * keeps only shingles the eval set contains (the tiny static side
    * broadcasts per micro-batch), and a streaming dropDuplicates
    * emits each (eval_doc, shingle) coverage event ONCE, with A
    * covering corpus doc attributed — the earliest covering
    * micro-batch wins, but WITHIN a micro-batch the surviving
    * corpus_doc is arbitrary (dropDuplicates keeps one unspecified
    * row per key; ADVICE r13 — coverage counts are exact, the
    * attribution column is advisory). A downstream aggregate over this
    * append stream is the live coverage counter; when it crosses the
    * batch `burned` threshold the benchmark is flagged before the
    * nightly leakage sweep.
    *
    * State discipline: dropDuplicates state holds only keys that
    * SURVIVED the eval join, so it is bounded by the eval set's
    * shingle-pair count whatever the stream length — no watermark
    * needed, the [[heavyHitterCandidates]] bounded-state rationale.
    */
  def evalBurnMonitor(docs: DataFrame, evalPairs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id").as("corpus_doc"),
        explode(graft.functions.GraftFunctions.ngramShingles(col("text"), 8)).as("ng"))
      .join(evalPairs.select(col("doc_id").as("eval_doc"), col("ng")), "ng")
      .select(col("eval_doc"), col("ng"), col("corpus_doc"))
      .dropDuplicates("eval_doc", "ng")
  }

  /** Streaming embedding-outlier gate — the online face of
    * [[graft.ext.Similarity.embedOutliers]]: z-score each ARRIVING
    * vector's nearest-seed-centroid cosine against the batch-profiled
    * per-cell (mean, stddev) and flag z ≤ −2 before the vector enters
    * the store — mis-embedded rows get quarantined at the door
    * instead of poisoning the nightly ANN build. Centroids and the
    * k-row stats are batch artifacts (the centroids as the kernel's
    * reference matrix, the stats as literals); the assignment is the
    * SAME [[graft.ext.Similarity.assignCells]] projection the batch
    * ran, so cell choice and cosine are bit-identical. PURE
    * row-local: no state, no shuffle.
    *
    * `mu`/`sd` are dense arrays indexed by cell_id (the seed cells
    * are vec_id 0..k−1 by construction); a singleton or
    * zero-variance cell carries sd = 0 and never flags (null z), and
    * try_element_at guards the (impossible-by-require, but ANSI-fatal
    * if it ever regressed) out-of-range lookup — the
    * [[embeddingDriftMonitor]] convention.
    */
  def embedOutlierStream(vecs: DataFrame, centroids: Array[(Long, Array[Float])],
      mu: Array[Double], sd: Array[Double]): DataFrame = {
    require(centroids.nonEmpty &&
      centroids.map(_._1).toSeq == (0L until centroids.length.toLong),
      "seed centroids must be the dense cells 0..k-1")
    require(mu.length == centroids.length && sd.length == centroids.length,
      "per-cell stats must cover every seed cell")
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    val muL = try_element_at(typedLit(mu.toIndexedSeq), (col("cell_id") + 1).cast("int"))
    val sdL = try_element_at(typedLit(sd.toIndexedSeq), (col("cell_id") + 1).cast("int"))
    graft.ext.Similarity.assignCells(vecs, centroids)
      .select(col("vec_id"), col("cell_id"), col("cos_centroid"),
        when(sdL > 0, round((col("cos_centroid") - muL) / sdL, 4)).as("z"))
      .withColumn("outlier", coalesce(col("z") <= -2.0, lit(false)))
  }
}
