package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream.
  *
  * The reference's status pipeline is event-driven (submission steps
  * arriving over time, aws/dynamo_manager.py STATUS_STEPS); its streaming
  * analog is watermarked windowed aggregation plus stateful
  * sessionization. Both operators take any streaming (or batch) DataFrame
  * with the events schema — `readStream` source wiring is the caller's
  * choice (kafka/files/memory). State is bounded: the watermark drops
  * late data after 1 hour; session state times out 30 minutes after the
  * last event, so a 1000-executor job holds only open sessions.
  */
object EventStream {

  /** Shared watermark + windowed count/sum pipeline behind the
    * tumbling and hopping variants — one definition of the watermark
    * and the decimal-exact sum discipline. */
  private def windowedCounts(events: DataFrame, slide: Option[String],
      startName: String): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(slide.fold(window(col("ts"), "1 hour"))(sl =>
        window(col("ts"), "1 hour", sl)), col("event_type"))
      // Spark's own `sum` on purpose, the one decimal sum that is not
      // GraftFunctions.decimalSum: the state store keeps this buffer, and
      // a different buffer schema would fail every restart from a
      // checkpoint an earlier build wrote
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window").getField("start").as(startName), col("event_type"),
        col("n"), col("sum_value"))

  /** Watermarked tumbling-window counts per event type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    windowedCounts(events, None, "bucket")

  /** Watermarked hopping-window counts: 1-hour windows sliding every
    * 15 minutes (each event lands in 4 windows — the replication runs
    * map-side inside the codegen'd Expand, same as batch
    * [[graft.operators.AnalyticsOps.hoppingWindow]]); watermark closes
    * a window 1 hour after its end. */
  def hoppingCounts(events: DataFrame): DataFrame =
    windowedCounts(events, Some("15 minutes"), "w_start")

  /** Streaming exact dedup: at-least-once sources redeliver, so the
    * pipeline drops duplicate event ids; the watermark bounds the dedup
    * state to one window of ids instead of all-time history. */
  def dedupeEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: clicks attributed to the purchase
    * whose 1-hour window they land in — the streaming twin of
    * [[graft.operators.JoinOps.intervalJoin]], and the same time-bucket
    * banding makes it legal here at all: Spark refuses stream-stream
    * joins without an equality predicate, so each purchase explodes into
    * the (two) hour buckets its window covers and each click keys into
    * its one bucket. Both sides are watermarked and the join predicate
    * carries the event-time bound, so the state store expires buffered
    * rows once the watermark passes a purchase's window end. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val bucketUs = 3600L * 1000000
    val c = clicks
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
      .withColumn("bucket", floor(unix_micros(col("click_ts")) / bucketUs))
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
      .withColumn("bucket",
        explode(sequence(floor(unix_micros(col("purchase_ts")) / bucketUs),
          floor((unix_micros(col("purchase_ts")) + bucketUs) / bucketUs))))
    c.join(p,
      c("bucket") === p("bucket") &&
        col("click_ts") >= col("purchase_ts") &&
        col("click_ts") <= col("purchase_ts") + expr("INTERVAL 1 HOUR"))
      .drop("bucket")
  }

  final case class BandRow(band_id: Int, band_key: Long, doc_id: Long,
      ts: Timestamp, sig: Seq[Long])
  final case class BandState(entries: List[(Long, Seq[Long])])
  final case class DupCandidate(doc_a: Long, doc_b: Long, band_id: Int,
      est_jaccard: Double)

  /** Per-bucket cap on remembered documents: a viral band key (the
    * streaming analog of a stop shingle) must not grow one state entry
    * without bound inside the watermark window. Eviction is by
    * recency — the state list is newest-first and truncated at this
    * bound, so an overflowing bucket forgets its OLDEST-seen documents
    * first and a new arrival pairs with exactly the `maxBucketEntries`
    * most recent bucket members (pinned at the cap boundary in
    * EventStreamSpec). Recall cost is confined to the viral bucket;
    * every non-viral bucket keeps full membership. */
  val maxBucketEntries = 64

  /** Streaming near-dup detection: MinHash-banded LSH over a document
    * stream. Shingling, signatures and the 16 band keys are all
    * computed map-side by the native expressions (`graft_shingles`,
    * `graft_minhash`), so the only stateful operator is a
    * flatMapGroupsWithState keyed on (band_id, band_key): each bucket
    * remembers the recent documents that hashed into it (capped, and
    * dropped wholesale by event-time timeout once the watermark passes),
    * and every arriving document is compared against them with the
    * standard minhash estimate (matching signature positions / k).
    * Pairs can surface from several bands — band_id is kept so callers
    * dedupe downstream (a stateless distinct inside a foreachBatch sink
    * or an idempotent upsert keyed on the pair).
    *
    * This is the streaming twin of
    * [[graft.operators.DedupOps.minhashLshOf]]: same signatures, same
    * banding, recall bounded by the same band-collision probability —
    * but candidates emit within one watermark delay of ingestion
    * instead of after a batch pass. `docs` needs (doc_id, ts, text). */
  def nearDupCandidates(docs: DataFrame, minEstJaccard: Double = 0.5): Dataset[DupCandidate] = {
    import docs.sparkSession.implicits._
    import graft.functions.GraftFunctions
    import graft.operators.DedupOps.{lshBands, lshRows, minhashK}
    val sig = docs
      .select(col("doc_id"), col("ts"),
        GraftFunctions.shingles(col("text"), 3).as("hs"))
      .filter(size(col("hs")) >= 1)
      .select(col("doc_id"), col("ts"),
        GraftFunctions.minhash(col("hs"), minhashK).as("sig"))
    val bands = sig.select(col("doc_id"), col("ts"), col("sig"),
      posexplode(graft.operators.DedupOps.lshBandKeysCol)
        .as(Seq("band_id", "band_key")))
    bands
      .withWatermark("ts", "1 hour")
      .select(col("band_id"), col("band_key"), col("doc_id"), col("ts"), col("sig"))
      .as[BandRow]
      .groupByKey(r => (r.band_id, r.band_key))
      .flatMapGroupsWithState[BandState, DupCandidate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, _, state: GroupState[BandState]) if state.hasTimedOut =>
          state.remove()
          Iterator.empty
        case ((bandId, _), rows, state: GroupState[BandState]) =>
          var entries = state.getOption.map(_.entries).getOrElse(Nil)
          val out = Seq.newBuilder[DupCandidate]
          var lastTs = 0L
          rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
            lastTs = math.max(lastTs, r.ts.getTime)
            entries.foreach { case (seenId, seenSig) =>
              if (seenId != r.doc_id) {
                val matches = seenSig.iterator.zip(r.sig.iterator).count { case (a, b) => a == b }
                val est = matches.toDouble / minhashK
                if (est >= minEstJaccard)
                  out += DupCandidate(math.min(seenId, r.doc_id),
                    math.max(seenId, r.doc_id), bandId, est)
              }
            }
            entries = ((r.doc_id, r.sig) :: entries.filterNot(_._1 == r.doc_id))
              .take(maxBucketEntries)
          }
          state.update(BandState(entries))
          // bucket state survives one watermark window past its last doc
          state.setTimeoutTimestamp(lastTs + 3600L * 1000)
          out.result().iterator
      }
  }

  /** Streaming twin of
    * [[graft.operators.DedupOps.incrementalNearDupsOf]]: a document
    * stream probed against the PERSISTED corpus signature index via
    * stream-static joins — band match against `index.bands`, then exact
    * Jaccard verification against `index.shingles` with the stream
    * row's own shingle set carried through the banding. Entirely
    * STATELESS (no watermark, no state store): every operator is a
    * map-side projection or a stream-static equi-join, so a new
    * document is verified against the full corpus history within its
    * micro-batch, and the index can be arbitrarily large (bucketed on
    * its join keys it is read co-located — IncrementalIndexSpec).
    * Precision is exact — candidates are verified before emission; a
    * pair surfaces once per colliding band (band_id kept), so callers
    * dedupe downstream like with [[nearDupCandidates]]. `docs` needs
    * (doc_id, text). */
  def indexProbe(docs: DataFrame, index: graft.operators.DedupOps.NearDupIndex,
      threshold: Double = 0.5): DataFrame = {
    import graft.functions.GraftFunctions
    import graft.operators.DedupOps.{lshBands, lshRows, minhashK}
    val sig = docs
      .select(col("doc_id"), GraftFunctions.shingles(col("text"), 3).as("hs"))
      .filter(size(col("hs")) >= 1)
      .select(col("doc_id"), col("hs"),
        GraftFunctions.minhash(col("hs"), minhashK).as("sig"))
    val bands = sig.select(col("doc_id").as("new_id"), col("hs"),
      posexplode(graft.operators.DedupOps.lshBandKeysCol)
        .as(Seq("band_id", "band_key")))
    val pairs = bands
      .join(index.bands.select(col("doc_id").as("corpus_id"),
        col("band_id"), col("band_key")), Seq("band_id", "band_key"))
      .join(index.shingles.select(col("doc_id").as("corpus_id"),
        col("hs").as("sh_b"), col("sh_size").as("size_b")), Seq("corpus_id"))
    graft.operators.DedupOps.jaccardVerified(pairs, col("hs"), col("sh_b"),
        size(col("hs")), col("size_b"), threshold)
      .select(col("new_id"), col("corpus_id"), col("band_id"), col("jaccard"))
  }

  /** Streaming ANN probe against the persisted IVF index — the last
    * standing-artifact probe next to the dedup index
    * ([[indexProbe]]), the window-frequency index
    * ([[substringCutStream]]) and the BM25 term index
    * ([[graft.operators.SearchOps.bm25ScoresOf]]): a vector stream is answered against a
    * trained, arbitrarily large corpus index without restating it.
    *
    * Probe selection is the batch plan's broadcast centroid-probe
    * kernel (map-side — [[graft.operators.AnnOps.probeIdsCol]]), the
    * candidate fetch is a stateless stream-static equi-join on
    * cluster_id (the bucketed inverted file reads co-located), and the
    * only stateful operator is the per-query top-k rollup — a
    * watermark-bounded aggregation whose state is one candidate list
    * per in-flight query (≤ nprobe·cell rows; a production deployment
    * bounds the cell via [[graft.operators.AnnOps.adaptiveK]], which
    * exists exactly to keep that product flat as the corpus grows).
    * Output matches the batch [[graft.operators.AnnOps.annIvfSearch]]
    * row-for-row on the same index (spec-pinned).
    *
    * `vecs` needs (vec_id, embedding); emits (query_id, rank,
    * neighbor_id). Run in `update` mode for immediate per-batch
    * answers (a query's rows land when its batch does) or `append`
    * for watermark-finalized rows, exactly like
    * [[contaminationStream]]. */
  def annProbeStream(vecs: DataFrame, cents: DataFrame, assigned: DataFrame): DataFrame = {
    import graft.operators.AnnOps
    import graft.functions.GraftFunctions.{cosineOf, dot}
    val e = vecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        current_timestamp().as("ingest_ts"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val probes = e
      .crossJoin(broadcast(AnnOps.centArr(cents)))
      .select(col("vec_id").as("query_id"), col("ingest_ts"),
        col("v").as("qv"), col("norm").as("qn"),
        explode(AnnOps.probeIdsCol(col("v"), col("norm"), AnnOps.nprobe))
          .as("cluster_id"))
      .withWatermark("ingest_ts", "10 seconds")
    probes
      .join(assigned.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("norm").as("cn"), col("cluster_id")), Seq("cluster_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("ingest_ts"),
        cosineOf(col("qv"), col("cv"), col("qn"), col("cn")).as("cosine"),
        (-col("neighbor_id")).as("nid"))
      .groupBy(window(col("ingest_ts"), "1 minute"), col("query_id"))
      // native bounded top-k (O(k) state per in-flight query, map-side
      // partials capped at k) — see graft.functions.TopKScoreIdAgg
      .agg(graft.functions.GraftFunctions.topkScoreId(
        col("cosine"), col("nid"), AnnOps.topK, ascending = false).as("top"))
      .drop("window")
      .select(col("query_id"),
        posexplode(col("top")).as(Seq("r0", "c")))
      .select(col("query_id"), (col("r0") + 1).cast("int").as("rank"),
        (-col("c.id")).as("neighbor_id"))
  }

  /** Streaming IVFADC probe against the COMPRESSED persisted index
    * ([[graft.operators.AnnOps.ivfpqFor]]'s encoded corpus — one
    * (cluster_id, neighbor_id, codes) row per corpus vector, 32× less
    * than the floats): the streaming twin of
    * [[graft.operators.AnnOps.annIvfPqAdcTopk]], answering a query
    * stream against a corpus whose float vectors never enter the plan.
    *
    * Probe selection and residual subvectors compute map-side against
    * two broadcast scalars (the coarse-centroid array and the per-cell
    * lookup); candidates are a stateless stream-static EQUI-join on
    * cluster_id (cluster-bucketed index reads co-located); the ADC
    * distance is a deterministic subspace-ordered fold per row against
    * the broadcast codebook grid — so stream and batch compute the
    * bit-identical double and the ONE watermark-bounded per-query
    * top-k rollup emits exactly the batch twin's rows (spec-pinned).
    * State per in-flight query is O(topK) — the native bounded top-k
    * aggregate, not a candidate buffer.
    *
    * `vecs` needs (vec_id, embedding); emits (query_id, rank,
    * neighbor_id). */
  def ivfpqProbeStream(vecs: DataFrame, cents: DataFrame,
      cb: graft.operators.AnnOps.PqCodebook,
      encoded: DataFrame): DataFrame = {
    import graft.operators.AnnOps
    import graft.functions.GraftFunctions.dot
    val q = vecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        current_timestamp().as("ingest_ts"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id").as("query_id"), col("ingest_ts"),
        col("v").as("qv"), col("norm").as("qn"))
    val probes = AnnOps.adcProbes(q, cents)
      .withWatermark("ingest_ts", "10 seconds")
    AnnOps.adcCandidates(probes, encoded, cb.grid)
      .select(col("query_id"), col("ingest_ts"), col("approx_d2"),
        col("neighbor_id"))
      .groupBy(window(col("ingest_ts"), "1 minute"), col("query_id"))
      // native bounded top-k: O(k) state per in-flight query instead of
      // buffering every ADC candidate (nprobe·cell structs) in the
      // state store — and the map-side partial caps what each partition
      // ships at k (graft.functions.TopKScoreIdAgg, parity spec-pinned)
      .agg(graft.functions.GraftFunctions.topkScoreId(
        col("approx_d2"), col("neighbor_id"), AnnOps.topK,
        ascending = true).as("top"))
      .drop("window")
      .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "c")))
      .select(col("query_id"), (col("r0") + 1).cast("int").as("rank"),
        col("c.id").as("neighbor_id"))
  }

  /** Streaming binary-sketch ANN probe against the persisted banded
    * sign-sketch index ([[graft.operators.AnnOps.sketchBandsOf]]): the
    * cheapest standing-artifact ANN answerer — the index is eight
    * narrow rows per 64-dim corpus vector (8·ceil(dim/64) in general;
    * no floats, no training), and the probe plan is entirely stateless
    * until the final top-k rollup.
    *
    * Per query vector: the sign sketch and its 8-bit bands compute
    * map-side (one native fold), candidates are a stream-static
    * EQUI-join on (band_id, band_key) — only the query's own buckets
    * are read, never the corpus; no Hamming distance is computed, the
    * shared band IS the screen — cosine scores each candidate through
    * one more stateless equi-join to the float corpus, and ONE
    * watermark-bounded per-query aggregation emits top-k (the native
    * bounded top-k aggregate — O(k) state, and identical (cosine, nid)
    * multi-band hits collapse on insert, the collect_set semantics).
    * Pigeonhole contract: any corpus vector within Hamming 7 of a
    * 64-dim query shares a band and WILL be scored. Output rows equal
    * the batch [[graft.operators.AnnOps.annHammingBandedSearch]] on
    * the same index (spec-pinned).
    *
    * `vecs` needs (vec_id, embedding); emits (query_id, rank,
    * neighbor_id). `update` mode for per-batch answers, `append` for
    * watermark-finalized rows — like [[annProbeStream]]. */
  def hammingProbeStream(vecs: DataFrame, bands: DataFrame,
      corpus: DataFrame): DataFrame = {
    import graft.operators.AnnOps
    import graft.functions.GraftFunctions.{cosineOf, dot}
    val qs = AnnOps.bandRowsOf(vecs
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"),
        current_timestamp().as("ingest_ts"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
      .withColumn("words", AnnOps.signBitsWide(col("qv"))))
      .drop("words")
      .withWatermark("ingest_ts", "10 seconds")
    qs
      .join(bands.select(col("vec_id").as("neighbor_id"), col("band_id"),
        col("band_key")), Seq("band_id", "band_key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("norm").as("cn")), Seq("neighbor_id"))
      .select(col("query_id"), col("ingest_ts"),
        cosineOf(col("qv"), col("cv"), col("qn"), col("cn")).as("cosine"),
        (-col("neighbor_id")).as("nid"))
      .groupBy(window(col("ingest_ts"), "1 minute"), col("query_id"))
      // native bounded top-k, descending on (cosine, nid) — nid is the
      // negated neighbor so ties break to the smaller id; exact
      // duplicates from multi-band hits collapse on insert (the
      // collect_set semantics), and state per in-flight query is O(k)
      // instead of every bucket candidate
      .agg(graft.functions.GraftFunctions.topkScoreId(
        col("cosine"), col("nid"), AnnOps.topK, ascending = false).as("top"))
      .drop("window")
      .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "c")))
      .select(col("query_id"), (col("r0") + 1).cast("int").as("rank"),
        (-col("c.id")).as("neighbor_id"))
  }

  /** Streaming heavy-hitter tokens — the native SpaceSaving aggregate
    * ([[graft.functions.HeavyHittersAgg]]) as watermark-bounded
    * streaming state: per window, the state store holds ONE bounded
    * (key, count, err) summary (O(capacity), not O(vocabulary)), so a
    * token stream of any rate aggregates with constant state per
    * window. Emits (window_start, rank, key, est_count, err); the
    * sketch guarantees (coverage of freq > n/capacity, overestimate-
    * only) carry over verbatim because the summary is mergeable —
    * micro-batch partials combine exactly like shuffle partials
    * (spec-pinned against exact counts). */
  def heavyHitterStream(docs: DataFrame, capacity: Int): DataFrame = {
    docs
      .filter(col("text").isNotNull)
      .select(current_timestamp().as("ingest_ts"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(col("ingest_ts"), xxhash64(col("tok")).as("h"))
      .withWatermark("ingest_ts", "10 seconds")
      .groupBy(window(col("ingest_ts"), "1 minute"))
      .agg(graft.functions.GraftFunctions.heavyHitters(col("h"), capacity).as("hh"))
      .select(col("window.start").as("window_start"),
        posexplode(col("hh")).as(Seq("r0", "e")))
      .select(col("window_start"), (col("r0") + 1).cast("int").as("rank"),
        col("e.key").as("key"), col("e.count").as("est_count"),
        col("e.err").as("err"))
  }

  final case class Ev(user_id: Long, event_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, value: Double)
  final case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Int, session_value: Double)

  val gapMs: Long = 30L * 60 * 1000

  /** Stateful gap sessionization: emits a session when a 30-minute
    * silence closes it — either by a later event of the same user or by
    * the event-time timeout once the watermark passes last+gap.
    * flatMapGroupsWithState keeps exactly one open-session record per
    * active user, so cluster state is bounded by concurrent users. */
  def sessionize(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, evs, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.value))
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var open = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              open match {
                case Some(s) if t - s.last <= gapMs =>
                  open = Some(SessionState(s.start, t, s.n + 1, s.value + e.value))
                case Some(s) =>
                  closed += Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.value)
                  open = Some(SessionState(t, t, 1, e.value))
                case None =>
                  open = Some(SessionState(t, t, 1, e.value))
              }
            }
            open.foreach { s =>
              state.update(s)
              // close via timeout when the watermark passes the gap bound
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  final case class TEv(user_id: Long, event_id: Long, ts: Timestamp, event_type: String)
  final case class TransState(lastTs: Long, lastId: Long, lastType: String)
  final case class Transition(user_id: Long, from_type: String, to_type: String,
      ts: Timestamp)

  /** Streaming first-order transitions: for every user, emit the
    * (from, to) event-type pair each new event completes — the
    * streaming feed of the batch transition matrix
    * ([[graft.operators.AnalyticsOps.eventTransitions]]); a windowed
    * count over this stream IS the live matrix.
    *
    * State is ONE 3-field record per user (the last event seen) — the
    * minimal stateful-streaming footprint, bounded by the user base
    * and independent of history length. No timeout: a user's next
    * event after any silence still completes a transition, exactly
    * like the batch lag window. Events inside a micro-batch are
    * processed in (ts, event_id) order, so feeds that respect event
    * time per user reproduce the batch matrix exactly (spec-pinned). */
  def transitionStream(events: Dataset[TEv]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, evs, state: GroupState[TransState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[Transition]
          sorted.foreach { e =>
            last.foreach(l => out += Transition(userId, l.lastType, e.event_type, e.ts))
            last = Some(TransState(e.ts.getTime, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  final case class BudgetState(spent: Long)
  final case class BudgetVerdict(doc_id: Long, source: String, n_tokens: Long,
      cum_before: Long, kept: Boolean)

  /** Streaming token-budget admission gate: the ingest-side twin of
    * [[graft.operators.BpeOps.tokenBudgetMixOf]] — each source admits
    * documents until its REAL-BPE token budget is spent, then drops the
    * rest, emitting the same audit row the batch mix does
    * ((doc_id, source, n_tokens, cum_before, kept); cum_before keeps
    * accumulating over dropped docs exactly like the batch window, so
    * the two surfaces are row-comparable).
    *
    * Token counts are the native encoder as a map-side projection
    * (zero shuffle); the only stateful operator keys on SOURCE with a
    * single running counter per key — state is O(sources), independent
    * of corpus size and history, the minimal footprint like
    * [[transitionStream]]. Within a micro-batch a source's documents
    * are admitted in the deterministic Lehmer-shuffled order the batch
    * mix uses, so a one-batch feed reproduces the batch verdicts
    * row-for-row and split feeds stay exactly-once on the running
    * total (both spec-pinned). Budgets arrive as a plain map — the
    * driver-side quota config every token-budgeted ingest carries;
    * an unlisted source is unthrottled. */
  def tokenBudgetGateStream(docs: DataFrame, budgets: Map[String, Long],
      model: graft.functions.BpeModel = graft.operators.BpeOps.defaultModel)
      : Dataset[BudgetVerdict] = {
    import docs.sparkSession.implicits._
    import graft.operators.BpeOps
    docs
      .withColumn("n_tokens",
        size(BpeOps.bpeTokens(
          filter(split(col("text"), " "), w => length(w) > 0), model))
          .cast("long"))
      .select(col("doc_id").cast("long"), col("source"), col("n_tokens"))
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[BudgetState, BudgetVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (source, rows, state: GroupState[BudgetState]) =>
          val budget = budgets.getOrElse(source, Long.MaxValue)
          var spent = state.getOption.map(_.spent).getOrElse(0L)
          val out = rows.toSeq
            .sortBy(t => (graft.operators.BpeOps.lehmerKey(t._1), t._1))
            .map { case (id, _, n) =>
              val v = BudgetVerdict(id, source, n, spent, spent < budget)
              spent += n
              v
            }
          state.update(BudgetState(spent))
          out.iterator
      }
  }

  /** Join-shape variant of the closure LM scorer
    * ([[graft.operators.QualityModelOps.lmScoresOf]]), kept as the path
    * for a model past [[graft.functions.LmModel.maxModelRows]]: the bigram
    * stream explodes and hash-joins the broadcast model tables, then
    * one watermark-bounded per-doc rollup reassembles the mean (the
    * [[contaminationStream]] convention). It is not free of a driver
    * collect: `broadcast(cb)` / `broadcast(cw)` collect both tables to
    * the driver as compact rows to build each broadcast relation. Its
    * bound is Spark's broadcast-table limit
    * (`spark.sql.maxBroadcastTableSize`, 8 GB by default, plus a row
    * cap in the hundreds of millions) and the driver heap, far above
    * the closure scorer's 5M boxed pairs, but a bound all the same. On
    * closure-sized models `lmScoresOf` is the faster shape.
    * Scores match `lmScoresOf` to 1e-9 (different fold order over
    * the same terms — spec-pinned). Emits only documents with ≥ 1
    * bigram (the closure scorer carries short docs through with null
    * scores). */
  def lmScoreStreamJoin(docs: DataFrame, cb: DataFrame, cw: DataFrame): DataFrame = {
    val v = cw.agg(count(lit(1)).as("v"))
    docs
      .select(col("doc_id"), current_timestamp().as("ingest_ts"),
        explode(graft.operators.QualityModelOps.bigramsCol).as("bg"))
      .withWatermark("ingest_ts", "10 seconds")
      .join(broadcast(cb), Seq("bg"), "left")
      .join(broadcast(cw.select(col("w1"), col("cw"))),
        substring_index(col("bg"), " ", 1) === col("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("ingest_ts"),
        (log(coalesce(col("cb"), lit(0L)) + lit(1)) -
          log(coalesce(col("cw"), lit(0L)) + col("v"))).as("lp"))
      .groupBy(window(col("ingest_ts"), "1 minute"), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("lp_sum"))
      .drop("window")
      .select(col("doc_id"), col("n_bigrams"),
        round(col("lp_sum") / col("n_bigrams"), 6).as("mean_log_prob"))
  }

  /** The full quality gate at ingest rate, and the one streaming
    * quality gate: the trained artifacts collapse into ONE native
    * scorer ([[graft.functions.QualityEnsembleScore]]) riding the task
    * closure — the [[graft.operators.BpeOps]] encoder pattern — and the
    * whole gate is a STATELESS projection: no explode, no join, no
    * aggregation state, no watermark; every executor scores its
    * partition of the crawl at scan speed, and a doc's verdict is
    * emitted in the micro-batch it arrives in (append mode works —
    * the plan has no state to finalize).
    *
    * Verdicts are row-identical to the batch
    * [[graft.operators.QualityModelOps.qualityEnsemble]] (spec-pinned,
    * and hash-checked as q_quality_ensemble_fused); the LM fold inside
    * the scorer replays the batch operator's sorted
    * per-distinct-bigram fold, so the perplexity bucket is decided on
    * the bit-identical rounded score. Replays are trivially consistent
    * — the scorer is a pure function of the document — so an
    * at-least-once upstream re-emits identical rows; exactly-once
    * sinks dedupe on doc_id.
    *
    * `docs` needs (doc_id, lang, text), text non-null; emits
    * (doc_id, gopher_keep, rep_flag, ppl_bucket, target_like, keep). */
  def qualityEnsembleStreamFused(docs: DataFrame,
      artifacts: graft.functions.EnsembleArtifacts): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions
          .qualityEnsemble(col("text"), col("lang"), artifacts).as("e"))
      .select(col("doc_id"), col("e.gopher_keep").as("gopher_keep"),
        col("e.rep_flag").as("rep_flag"), col("e.ppl_bucket").as("ppl_bucket"),
        col("e.target_like").as("target_like"), col("e.keep").as("keep"))

  /** Streaming decontamination gate — the streaming twin of
    * [[graft.operators.PipelineOps.contaminationBloom]]. The eval set's
    * shingle Bloom filter and exact shingle table are both standing
    * artifacts (built once per eval-set release); the bloom rides the
    * stream plan as a binary literal and kills ~all shingles map-side
    * at ingest speed BEFORE the exact stream-static verify join, so
    * the per-doc rollup's exchange carries ~only the true overlap.
    *
    * The per-doc rollup is a streaming aggregation, so it needs a
    * watermark to bound state: rows are stamped with the micro-batch
    * timestamp (constant within a batch, so a doc's rows always agree)
    * and grouped under a 1-minute window that the 10-second watermark
    * expires — state is bounded to ~the watermark horizon of batches,
    * never the stream's lifetime. Run in `update` mode for immediate
    * per-batch verdicts (each doc appears once, when its batch lands)
    * or `append` for watermark-finalized rows.
    *
    * `docs` needs (doc_id, text); emits the batch gate's
    * (doc_id, n_shingles, n_overlap, overlap_frac, contaminated). */
  def contaminationStream(docs: DataFrame, benchShingles: DataFrame,
      bloom: Array[Byte], frac: Double,
      windowDur: String = "1 minute",
      watermarkDelay: String = "10 seconds"): DataFrame = {
    import graft.operators.PipelineOps
    val hs = docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.shingles(col("text"), 3).as("hs"),
        current_timestamp().as("ingest_ts"))
      .filter(size(col("hs")) >= 1)
      .withWatermark("ingest_ts", watermarkDelay)
    PipelineOps.bloomGateRows(hs, benchShingles, bloom, carry = Seq("ingest_ts"))
      .groupBy(window(col("ingest_ts"), windowDur),
        col("doc_id"), col("n_shingles"))
      .agg(sum(col("hit")).as("n_overlap"))
      .drop("window")
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_shingles")).as("overlap_frac"),
        (col("n_overlap").cast("double") / col("n_shingles") > frac)
          .as("contaminated"))
  }

  /** Streaming duplicated-substring cut — the streaming twin of
    * [[graft.operators.DedupOps.substringDedupIncrementalOf]], probing
    * the persisted corpus window-frequency index. A token is cut when a
    * covering window reaches total count 2 over the document's OWN
    * occurrences plus the index count — i.e. exactly the incremental
    * batch semantics with each document as its own batch (spec-pinned);
    * cross-document duplication within one micro-batch rides the next
    * index refresh, the same convention as [[indexProbe]].
    *
    * Shape: the native window hashes explode to narrow (doc_id, i, h)
    * rows, the index lookup is a stateless stream-static equi-join,
    * and the per-doc rollup is the one watermark-bounded aggregation —
    * the document text rides it as a `first()` partial aggregate (one
    * copy per doc map-side, never multiplied by the explode). The cut
    * itself (own-duplicate detection, coverage expansion, ordered
    * reassembly) is array math on the aggregated row. */
  def substringCutStream(docs: DataFrame, windowFreq: DataFrame, w: Int): DataFrame = {
    val wins = docs
      // null text is dropped, matching the batch operators' filter
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        current_timestamp().as("ingest_ts"),
        // _outer: a doc shorter than w words has no windows but must
        // still flow through (untouched), exactly like the batch cut
        posexplode_outer(graft.functions.GraftFunctions.windowHashes(col("text"), w))
          .as(Seq("i", "h")))
      .withWatermark("ingest_ts", "10 seconds")
      .join(windowFreq.select(col("h"), col("c").as("c_idx")), Seq("h"), "left")
    val agg = wins
      .groupBy(window(col("ingest_ts"), "1 minute"), col("doc_id"))
      .agg(first(col("text")).as("text"),
        sort_array(collect_list(struct(col("i"),
          col("h"), coalesce(col("c_idx"), lit(0L)).as("ci")))).as("ws_hits"))
      .drop("window")
    val ws = split(trim(col("text")), "\\s+")
    // dup-start positions in O(m log m): ONE sort of (h, i) pairs
    // (let-bound as a lambda variable so it runs once per row), then a
    // neighbor-equality scan — a hash occurs twice in the document iff
    // it equals the element before or after it in h-order (`get` is
    // 0-based and null-safe, so the boundary probes fall out as false).
    // Index hits (ci >= 1) come straight off the unsorted list. Never
    // an O(windows × dup_hs) array_contains probe per window.
    val dupStartsCol = element_at(
      transform(array(array_sort(transform(col("ws_hits"),
          x => struct(x.getField("h").as("h"), x.getField("i").as("i"))))),
        byH => array_union(
          transform(filter(col("ws_hits"), x => x.getField("ci") >= 1),
            x => x.getField("i")),
          transform(filter(byH, (v, k) =>
            (v.getField("h") === get(byH, k - 1).getField("h")) ||
              (v.getField("h") === get(byH, k + 1).getField("h"))),
            v => v.getField("i")))), 1)
    agg
      .withColumn("dup_starts", dupStartsCol)
      .withColumn("covered", array_distinct(flatten(
        transform(col("dup_starts"), i => sequence(i, i + lit(w - 1))))))
      .select(col("doc_id"),
        size(ws).cast("long").as("n_tokens"),
        size(col("covered")).cast("long").as("n_removed"),
        when(size(col("covered")) === size(ws), lit(null))
          // surviving positions via array_except (hash-set linear merge,
          // order-preserving) — not an O(tokens × covered) per-token
          // membership probe
          .otherwise(array_join(transform(
            array_except(sequence(lit(0), size(ws) - 1), col("covered")),
            p => get(ws, p)), " ")).as("clean_text"))
  }

  final case class HourScore(event_type: String, bucket: Timestamp, n: Long,
      zscore: Double, anomaly: Boolean)
  final case class AnomalyState(firstHour: Long, lastEmitted: Long,
      counts: Map[Long, Long])

  /** Streaming hourly-volume anomaly detection — the streaming twin of
    * [[graft.operators.TimeSeriesOps.anomalyOf]]. Keyed on event_type
    * (a handful of groups, so state is tiny no matter the stream rate):
    * each group accumulates per-hour counts, and once the watermark
    * passes an hour's end that hour is FINAL — it is scored against the
    * trailing 24 dense hours (gap hours count 0, exactly like the batch
    * spine), emitted, and the window slides. State is bounded at ~24
    * retained hours + pending hours inside the watermark; an event-time
    * timeout finalizes the tail when a type goes quiet. Warm-up hours
    * (<12 trailing) are dropped and zero-variance windows score 0, both
    * matching batch; scores are spec-pinned to batch at 1e-9 with
    * identical anomaly flags (the integer trailing sums are exact in
    * both engines, so the double formula folds the same way).
    *
    * `events` needs (event_type, ts); emits [[HourScore]] in append
    * mode, one row per finalized spine hour per type. */
  def anomalyScoreStream(events: DataFrame): Dataset[HourScore] = {
    import events.sparkSession.implicits._
    val hourMs = 3600000L
    events
      .withWatermark("ts", "1 hour")
      .select(col("event_type"), col("ts")).as[(String, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (et: String, rows: Iterator[(String, Timestamp)], state: GroupState[AnomalyState]) =>
          val prev = state.getOption
            .getOrElse(AnomalyState(Long.MaxValue, Long.MinValue, Map.empty))
          var counts = prev.counts
          var first = prev.firstHour
          rows.foreach { case (_, ts) =>
            val h = math.floorDiv(ts.getTime, hourMs) * hourMs
            counts = counts.updated(h, counts.getOrElse(h, 0L) + 1L)
            if (h < first) first = h
          }
          val wm = state.getCurrentWatermarkMs()
          val ready = counts.keysIterator
            .filter(h => h + hourMs <= wm && h > prev.lastEmitted).toSeq
          val out = Seq.newBuilder[HourScore]
          var lastEmitted = prev.lastEmitted
          if (ready.nonEmpty && first != Long.MaxValue) {
            // walk the DENSE spine from the emit frontier to the newest
            // final hour — gap hours get scored (n = 0) like in batch
            var h = if (lastEmitted == Long.MinValue) first else lastEmitted + hourMs
            val hi = ready.max
            while (h <= hi) {
              val m = math.min(24L, (h - first) / hourMs).toInt
              if (m >= 12) {
                val trail = (1 to m).map(k => counts.getOrElse(h - k * hourMs, 0L))
                val md = m.toDouble
                val s = trail.sum.toDouble
                val ss = trail.map(x => x * x).sum.toDouble
                val mean = s / md
                val v = (ss - s * s / md) / (md - 1.0)
                val n = counts.getOrElse(h, 0L)
                val z =
                  if (v > 0.0)
                    BigDecimal((n.toDouble - mean) / math.sqrt(v))
                      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                  else 0.0
                out += HourScore(et, new Timestamp(h), n, z, math.abs(z) > 3.0)
              }
              lastEmitted = h
              h += hourMs
            }
            // retain the 24 trailing hours behind the frontier + pending
            counts = counts.filter { case (hh, _) => hh > lastEmitted - 24 * hourMs }
          }
          state.update(AnomalyState(first, lastEmitted, counts))
          val pending = counts.keysIterator.filter(_ > lastEmitted)
          if (pending.nonEmpty) state.setTimeoutTimestamp(pending.min + hourMs)
          out.result().iterator
      }
  }

  /** Ingest token-rate monitor: per-window, per-source document and
    * REAL-BPE-token throughput — the telemetry a token-budgeted
    * pipeline watches ("is source X on track to deliver its N-token
    * quota this week"). The encoder
    * ([[graft.operators.BpeOps.bpeTokens]]) is a pure per-row native
    * expression riding the task closure, so the only stateful operator
    * is ONE watermark-bounded window aggregation over (window, source)
    * — state is O(sources) per horizon, never O(documents).
    * `docs` needs (source, text, ts); emits
    * (w_start, source, n_docs, n_tokens). */
  def tokenRateStream(docs: DataFrame,
      model: graft.functions.BpeModel = graft.operators.BpeOps.defaultModel): DataFrame =
    docs
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(graft.operators.BpeOps.bpeTokens(
          filter(split(col("text"), " "), w => length(w) > 0), model))
          .cast("long")).as("n_tokens"))
      .select(col("window").getField("start").as("w_start"), col("source"),
        col("n_docs"), col("n_tokens"))
}
