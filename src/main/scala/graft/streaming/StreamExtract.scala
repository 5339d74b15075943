package graft.streaming

import graft.expr.{Functions, TextExprKernels}
import graft.ops.DedupOps
import org.apache.spark.sql.{Column, DataFrame, Dataset,
  KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag

/** Streaming flavor of the extraction pipeline. The reference is
  * batch-only (bounded epochs, SURVEY.md §2.8), so batch is primary; this
  * module exists because a transcript table at 10^12-turn scale is
  * usually APPENDED continuously — the same per-turn kernel runs
  * unchanged under Structured Streaming, with per-source-file ordering
  * instead of the global window (row_number over an unbounded stream is
  * undefined; stable global rn remains the batch job's contract).
  */
object StreamExtract {

  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** File-source stream -> per-turn extraction (same expression as batch). */
  def extractStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream
      .schema(turnSchema)
      .parquet(inputDir)
      .select(
        col("conv_id"), col("turn_idx"), col("ts"),
        Functions.extract_turn(col("text")).as("ex"))
      .select(col("conv_id"), col("turn_idx"), col("ts"),
        col("ex.kind").as("kind"),
        col("ex.text").as("text"),
        col("ex.spans").as("spans"))

  /** Watermarked windowed aggregation over the extracted stream:
    * turns + extracted chars per (10 min event-time window, kind).
    */
  def windowedStats(extracted: DataFrame): DataFrame =
    extracted
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("kind"))
      .agg(count(lit(1)).as("turns"),
        sum(length(col("text"))).as("chars"))

  /** Streaming exact dedup: the first row carrying each content hash
    * within the watermark horizon passes; later duplicates are dropped —
    * the streaming flavor of DedupOps.exactDedup for a continuously
    * appended corpus. State is ONE 16-byte md5 key per distinct payload
    * inside the horizon (map-side hashed; the payload itself never
    * enters state), expired by the watermark — bounded no matter how
    * long the stream runs; RocksDB-backed on a real cluster.
    */
  def streamDedupExact(rows: DataFrame, textCol: String = "text",
      tsCol: String = "ts", horizon: String = "10 minutes"): DataFrame =
    rows
      .withColumn("text_md5", md5(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("text_md5")

  // --- custom state: the streaming dedup family -------------------------

  /** Keyed state shared by every streaming dedup flavor: the bucket's
    * ANCHOR (min doc id seen so far within the horizon), its payload
    * (nothing / simhash fingerprint / embedding vector), and the
    * last-activity stamp.
    */
  final case class AnchorState[P](id: Long, payload: P, lastTsMs: Long)

  final case class DupCandidate(id_a: Long, id_b: Long, band_idx: Int)
  final case class SimhashDup(id_a: Long, id_b: Long, hamming: Int,
      chunk_idx: Int)
  final case class CosineDup(id_a: Long, id_b: Long, cos: Double,
      table_idx: Int)

  /** The state skeleton every streaming dedup flavor shares (ONE
    * implementation — a timeout or anchor fix cannot drift between the
    * minhash/simhash/embedding ops): timeout expiry, CONTENT-MIN
    * anchor, vs-anchor emission, timeout re-arm.
    *
    * Anchor semantics: the anchor is the min-id doc seen so far in the
    * bucket — a content tie-break applied incrementally. When a smaller
    * id arrives it TAKES OVER as anchor and the displaced anchor is
    * compared against it on the way out, so the anchor converges to the
    * bucket's content-min regardless of arrival order (single-batch
    * arrival equals the batch operators' min-id anchor exactly). What
    * remains arrival-dependent in append mode is only WHICH anchor a
    * historical doc was compared against — inherent to bounded state
    * with no retraction; every emitted pair is genuinely
    * bucket-colliding and (for the verifying flavors) verified.
    *
    * Pairs are vs-anchor ONLY: two non-anchor docs in one bucket are
    * never compared (bounded state cannot afford the quadratic bucket
    * join) — the stream is the dedup-against-corpus flavor; batch
    * remains the complete-pairs source.
    *
    * State cost: one (id, payload, stamp) per occupied bucket,
    * watermark-expired; emission LINEAR in bucket size — the streaming
    * analogue of the batch maxBucket valve (a boilerplate mega-bucket
    * can never go quadratic here).
    *
    * Events are (key, doc_id, payload, ts); `emit(key, anchorId,
    * anchorPayload, otherId, otherPayload)` is the per-flavor
    * verify/emit rule.
    */
  private def anchorBucketFn[K, P, O](horizonMs: Long,
      emit: (K, Long, P, Long, P) => Option[O])
      : (K, Iterator[(K, Long, P, java.sql.Timestamp)],
         GroupState[AnchorState[P]]) => Iterator[O] =
    (key, events, state) => {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val evs = events.toVector
        if (evs.isEmpty) {
          // initial-state delivery: bootstrapped groups are visited once
          // on the first batch even without traffic. Keep the seeded
          // anchor, emit nothing; no event time exists yet, so no
          // timeout arms — it arms on first traffic (the documented
          // bootstrap-slice caveat in streamDedupMinhashCandidatesFrom).
          Iterator.empty
        } else {
        val docs = evs.map(e => (e._2, e._3)).distinctBy(_._1).sortBy(_._1)
        val lastTs = evs.map(_._4.getTime).max
        val prev = state.getOption
        val candidate = docs.head
        val (anchor, displaced) = prev match {
          case Some(p) if p.id <= candidate._1 => ((p.id, p.payload), None)
          case Some(p) => (candidate, Some((p.id, p.payload)))
          case None => (candidate, None)
        }
        val others = (docs.filter(_._1 != anchor._1) ++ displaced)
          .distinctBy(_._1)
        val out = others.flatMap { case (d, pl) =>
          emit(key, anchor._1, anchor._2, d, pl)
        }
        val nextLast = math.max(prev.map(_.lastTsMs).getOrElse(0L), lastTs)
        state.update(AnchorState(anchor._1, anchor._2, nextLast))
        // expire once the watermark passes last activity + horizon
        // (strictly beyond the current watermark, as in convSessions)
        state.setTimeoutTimestamp(math.max(nextLast + horizonMs,
          state.getCurrentWatermarkMs() + 1))
        out.iterator
        }
      }
    }

  /** Streaming MinHash-LSH near-dup CANDIDATE stream — the streaming
    * flavor of DedupOps.minhashCandidates for a continuously appended
    * corpus. Each document rides the same 16 band keys as batch
    * (`minhash_bands`, the SAME codegen'd expression — stream and batch
    * bucket identically); anchor-bucket state per (band_idx, band_key)
    * (see anchorBucketFn), every later doc emits a candidate pair
    * against the anchor (id_a < id_b; the same pair can surface once
    * per shared band — downstream verify dedups, exactly like the batch
    * candidates feed verifyJaccard). Payload text never enters state
    * (~16 bytes/bucket). Short texts are gated exactly like batch
    * (< ShingleK chars cannot be shingle near-dups); the gate sits
    * AFTER the watermark so gated rows still advance event time.
    */
  def streamDedupMinhashCandidates(spark: SparkSession, rows: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      tsCol: String = "ts",
      horizonMs: Long = 10L * 60 * 1000): Dataset[DupCandidate] =
    anchorRun[Long, DupCandidate](spark,
      minhashBands(rows, textCol, idCol, tsCol, horizonMs),
      ("band_idx", "band_key"), "doc_id", lit(0L), horizonMs, minhashEmit)

  /** Run the anchor-state machine (anchorBucketFn) over banded rows:
    * each row's `keys` bucket, `id`, `payload` and watermarked ts are
    * one event; `emit` is the flavor's verify/emit rule, and `initial`
    * seeds bucket anchors (the index-bootstrapped flavor).
    */
  private def anchorRun[P: TypeTag, O <: Product : TypeTag](
      spark: SparkSession, banded: DataFrame, keys: (String, String),
      id: String, payload: Column, horizonMs: Long,
      emit: ((Int, Long), Long, P, Long, P) => Option[O],
      initial: Option[KeyValueGroupedDataset[(Int, Long), AnchorState[P]]] =
        None): Dataset[O] = {
    import spark.implicits._
    val grouped = banded
      // tuple shape via select (NOT a typed .map — MapElements would
      // re-serialize and strip the watermark tag off the ts attribute)
      .select(struct(col(keys._1), col(keys._2)).as("_1"), col(id).as("_2"),
        payload.as("_3"), col("ts").as("_4"))
      .as[((Int, Long), Long, P, java.sql.Timestamp)]
      .groupByKey(_._1)
    val fn = anchorBucketFn[(Int, Long), P, O](horizonMs, emit)
    initial match {
      case Some(init) => grouped.flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout, init)(fn)
      case None => grouped.flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
    }
  }

  /** The banded (doc_id, ts, band_idx, band_key) stream of both minhash
    * flavors.
    */
  private def minhashBands(rows: DataFrame, textCol: String, idCol: String,
      tsCol: String, horizonMs: Long): DataFrame =
    rows
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("ts"),
        col(textCol).as("text"))
      .withWatermark("ts", s"$horizonMs milliseconds")
      .filter(length(col("text")) >= graft.kernel.TextHash.ShingleK)
      .select(col("doc_id"), col("ts"),
        posexplode(Functions.minhash_bands(col("text")))
          .as(Seq("band_idx", "band_key")))

  /** The minhash flavors' one emit rule: every non-anchor doc in a
    * bucket is a candidate against the anchor, unverified.
    */
  private val minhashEmit
      : ((Int, Long), Long, Long, Long, Long) => Option[DupCandidate] =
    (key, aid, _, oid, _) =>
      Some(DupCandidate(math.min(aid, oid), math.max(aid, oid), key._1))

  /** streamDedupMinhashCandidates with its anchor state BOOTSTRAPPED
    * from a persisted batch band index (DedupOps.ensureMinhashIndex's
    * bands table): the stream starts already knowing the corpus — new
    * documents pair against the indexed corpus WITHOUT replaying it
    * through the stream (the streaming face of dd_incremental; batch
    * appends and the stream consult the same artifact).
    *
    * Each indexed (band_idx, band_key) bucket seeds one AnchorState
    * whose anchor is the bucket's min doc_id — exactly the state a
    * replay of the indexed corpus would have converged to
    * (content-min anchor), so stream-after-bootstrap == stream-after-
    * replay by construction (StreamingSpec pins the emitted pairs
    * against a batch recomputation of the same semantics).
    *
    * Bounded-state caveat, stated: initial-state groups that never see
    * traffic have no timeout armed (Structured Streaming arms timeouts
    * only when a group's function runs), so they are NOT watermark-
    * expired. Bootstrap the slice of the index the stream should dedup
    * against (e.g. the active-horizon partitions), not an unbounded
    * corpus history.
    */
  def streamDedupMinhashCandidatesFrom(spark: SparkSession,
      rows: DataFrame, indexBands: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      tsCol: String = "ts",
      horizonMs: Long = 10L * 60 * 1000): Dataset[DupCandidate] = {
    import spark.implicits._
    val initialState = indexBands
      .groupBy(col("band_idx"), col("band_key"))
      .agg(min(col("doc_id")).as("anchor_id"))
      .select(struct(col("band_idx"), col("band_key")).as("_1"),
        col("anchor_id").as("_2"))
      .as[((Int, Long), Long)]
      .groupByKey(_._1)
      .mapValues(v => AnchorState[Long](v._2, 0L, 0L))
    anchorRun[Long, DupCandidate](spark,
      minhashBands(rows, textCol, idCol, tsCol, horizonMs),
      ("band_idx", "band_key"), "doc_id", lit(0L), horizonMs, minhashEmit,
      Some(initialState))
  }

  /** Streaming SimHash near-dups, VERIFIED in-state: the 64-bit
    * fingerprint is all the verify step needs, so unlike the minhash
    * flavor (candidates only — jaccard needs the texts) this emits
    * finished near-dup pairs. Bucketing is the same pigeonhole banding
    * as batch (graft.ops.DedupOps.simhashBands, shared code); each doc
    * landing in an occupied bucket is emitted iff bit_count(xor) <=
    * maxHamming against the anchor (anchorBucketFn). Pigeonhole recall
    * holds vs the ANCHOR: any doc within the radius of the anchor
    * shares at least one error-free chunk with it. ~24 bytes of state
    * per occupied bucket.
    */
  def streamDedupSimhash(spark: SparkSession, rows: DataFrame,
      maxHamming: Int = 3, pairBands: Boolean = false,
      textCol: String = "text", idCol: String = "doc_id",
      tsCol: String = "ts",
      horizonMs: Long = 10L * 60 * 1000): Dataset[SimhashDup] = {
    val base = rows.select(col(idCol).cast("long").as("doc_id"),
        col(tsCol).as("ts"), col(textCol).as("text"))
      .withWatermark("ts", s"$horizonMs milliseconds")
    anchorRun[Long, SimhashDup](spark,
      DedupOps.simhashBands(base, maxHamming, pairBands,
        passthrough = Seq("ts")),
      ("chunk_idx", "chunk_key"), "doc_id", col("sh"), horizonMs,
      (key, aid, ash, oid, osh) => {
        val ham = java.lang.Long.bitCount(ash ^ osh)
        if (ham <= maxHamming)
          Some(SimhashDup(math.min(aid, oid), math.max(aid, oid), ham, key._1))
        else None
      })
  }

  /** Streaming embedding-cosine near-dups, VERIFIED in-state — the last
    * member of the streaming dedup family (exact / minhash-candidates /
    * simhash-verified / embedding-verified): random-hyperplane LSH
    * buckets via the SAME bucketing as batch (DedupOps.hyperplaneBands,
    * shared code); bucket state holds the anchor's (id, vector) —
    * ~(4*dim + 16) bytes — and each later vector is emitted iff the
    * cosine_sim kernel's exact double fold against the anchor clears
    * minCos (anchorBucketFn; StreamingSpec asserts streamed cosines are
    * BIT-equal to batch verify).
    *
    * `dim` is a REQUIRED parameter: batch derives the canonical
    * dimension with one agg over the corpus (the index-build step), but
    * an unbounded stream has no corpus to probe — the caller pins the
    * embedding dimension up front and ragged/null rows are excluded,
    * same uniform-dim contract as batch.
    */
  def streamDedupEmbedding(spark: SparkSession, rows: DataFrame,
      dim: Int, minCos: Double = 0.95, nPlanes: Int = 8, nTables: Int = 4,
      embCol: String = "embedding", idCol: String = "vec_id",
      tsCol: String = "ts",
      horizonMs: Long = 10L * 60 * 1000): Dataset[CosineDup] = {
    require(dim > 0, "pin the embedding dimension up front")
    val base = rows.select(col(idCol).cast("long").as("vec_id"),
        col(tsCol).as("ts"), col(embCol).as("embedding"))
      .withWatermark("ts", s"$horizonMs milliseconds")
    anchorRun[Array[Float], CosineDup](spark,
      DedupOps.hyperplaneBands(base, "embedding", dim, nPlanes, nTables,
        passthrough = Seq("embedding", "ts")),
      ("table_idx", "bucket"), "vec_id", col("embedding"), horizonMs,
      (key, aid, aemb, oid, oemb) => {
        val c = TextExprKernels.cosine(
          UnsafeArrayData.fromPrimitiveArray(aemb),
          UnsafeArrayData.fromPrimitiveArray(oemb))
        if (c >= minCos)
          Some(CosineDup(math.min(aid, oid), math.max(aid, oid), c, key._1))
        else None
      })
  }

  /** Streaming<->batch RECONCILIATION (the operational pairing of the two
    * dedup modes): fold streamed vs-anchor pairs and a periodic batch
    * complete-pairs run into ONE cluster state. Both sources emit
    * verified same-family pairs and clustering consumes CONNECTIVITY, so
    * the union's connected components are the reconciled clusters —
    * min-id canonical survivor per component, exactly the batch
    * contract.
    *
    * Division of labor this encodes: within a bucket the streamed
    * vs-anchor star preserves the batch clique's connectivity whenever
    * members verify against the anchor; pairs the stream cannot see
    * (two non-anchor docs that verify against each other but not the
    * anchor, or docs split across expired state horizons) are exactly
    * what the periodic batch run contributes. StreamingSpec pins
    * stream-then-reconcile == pure-batch clusters on a seeded appended
    * corpus. Ids-only shuffles throughout (clusterLabels over the pair
    * list, not the corpus); clusterLabels drops self-pairs and takes
    * a pair seen by both sources twice, so the union goes in as is.
    */
  def reconcileClusters(batchPairs: DataFrame,
      streamedPairs: DataFrame): DataFrame =
    DedupOps.clusterLabels(
      batchPairs.select(col("id_a"), col("id_b"))
        .unionByName(streamedPairs.select(col("id_a"), col("id_b"))))

  // --- custom state: streaming conversation-session assembly ------------

  final case class TurnEvent(conv_id: String, turn_idx: Int,
      ts: java.sql.Timestamp, text: String)
  final case class ConvBuffer(turns: List[(Int, Long, String)],
      lastTsMs: Long)
  final case class ConvDoc(conv_id: String, n_turns: Long, doc: String)

  /** Per-conversation session assembly with flatMapGroupsWithState: turns
    * buffer in keyed state until the event-time watermark passes the
    * conversation's last activity + `gapMs` (session gap), then the
    * assembled document is emitted — the streaming flavor of
    * ExtractPipeline.convDocs with the SAME assembly spec (order by
    * (turn_idx, ts), drop empty texts, join with blank lines).
    *
    * Scale notes: state per key is bounded by the conversation cap
    * (same contract as the batch window); on a real cluster this runs on
    * the RocksDB state store so total state is disk-backed, and the
    * shuffle is the same hash-by-conv_id exchange the batch job does.
    */
  def convSessions(spark: SparkSession, extracted: DataFrame,
      gapMs: Long = 30L * 60 * 1000): Dataset[ConvDoc] = {
    import spark.implicits._
    def assemble(convId: String, buf: ConvBuffer): ConvDoc = {
      val ordered = buf.turns.sortBy { case (ti, tsMs, _) => (ti, tsMs) }
      val doc = ordered.map(_._3).filter(_.nonEmpty).mkString("\n\n")
      ConvDoc(convId, buf.turns.length.toLong, doc)
    }
    extracted
      .select(col("conv_id"), col("turn_idx"), col("ts"), col("text"))
      .withWatermark("ts", "1 minute")
      .as[TurnEvent]
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (convId: String, events: Iterator[TurnEvent],
            state: GroupState[ConvBuffer]) => {
          if (state.hasTimedOut) {
            val out = state.getOption.map(assemble(convId, _))
            state.remove()
            out.iterator
          } else {
            val prev = state.getOption.getOrElse(ConvBuffer(Nil, 0L))
            val add = events.map(e =>
              (e.turn_idx, e.ts.getTime, e.text)).toList
            val lastTs =
              if (add.isEmpty) prev.lastTsMs
              else math.max(prev.lastTsMs, add.map(_._2).max)
            val next = ConvBuffer(prev.turns ++ add, lastTs)
            state.update(next)
            // emit when the watermark passes last activity + session gap;
            // the timeout must sit strictly beyond the current watermark
            // (late-but-allowed data could otherwise set a past timestamp)
            state.setTimeoutTimestamp(math.max(next.lastTsMs + gapMs,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
        })
  }
}
