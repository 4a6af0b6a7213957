package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Similarity
import graft.operators.Blocking
import graft.operators.Blocking.ExtractedDoc

/** Streaming incremental record linkage — the stream form of the batch
  * blocking → candidate-pair → scoring stages (`Blocking`/`PairScoring`):
  * documents arrive on a stream, each is compared against the documents
  * already seen in its blocking keys' blocks, and duplicate edges are
  * emitted incrementally. A training-data ingest that crawls continuously
  * runs this instead of re-running the batch pipeline per crawl snapshot.
  *
  * Semantics pinned to the batch pipeline:
  *  - SAME sketch and blocking keys as the batch path, by construction
  *    ([[blockedDocs]]);
  *  - duplicate decision = the batch rule's exact-Jaccard leg at the same
  *    0.35 threshold ([[graft.operators.PairScoring.decide]]'s content
  *    bar; the planted-corpus margins are ≥0.42 for true variants vs
  *    ≤0.26 for shared-title negatives, so the streaming and batch
  *    decisions agree — asserted end-to-end in `StreamingDedupSpec`:
  *    `EntityResolution.quality` against the generator's truth reaches
  *    pairwise F1 ≥ 0.99 over all pairs, with no url missing);
  *  - stop-block cap: a block that grows past `maxBlockSize` members
  *    stops storing and stops emitting (the streaming form of the batch
  *    hot-block drop — a stream cannot retract already-emitted edges, so
  *    the cap gates FUTURE comparisons only);
  *  - a pair co-located by several keys may emit once per key: exactly
  *    like the batch path before its dropDuplicates, and harmless to the
  *    downstream transitive closure (ConnectedComponents absorbs
  *    duplicate edges); chain `dropDuplicatesWithinWatermark` on
  *    (src, dst) when a unique edge stream is required.
  *
  * Scale shape: state is hash-partitioned by blocking key (the same
  * shuffle the batch groupByKey does), bounded per key by the stop-block
  * cap. Each document's full token-hash array is stored once per blocking
  * key it lands in — 1 title key + up to `NumMinHashes/RowsPerBand` LSH
  * band keys — so steady-state keyed state is up to (1 + numBands)× the
  * corpus's token-sketch size (≈6× at the default 20 hashes / 4 rows per
  * band), not 1×. A perpetual ingest bounds key LIFETIME with
  * [[duplicateEdges]]'s `stateTtl`: blocks idle longer than the TTL are
  * evicted via `GroupStateTimeout.ProcessingTimeTimeout` (eviction =
  * "this block's history ages out"; a doc arriving after eviction scores
  * against an empty block, so no edges straddle an eviction). The default
  * `stateTtl = None` keeps blocks forever — the bounded-crawl shape.
  */
object StreamingDedup {

  final case class BlockedDoc(key: Long, id: Long, tokenHashes: Array[Long])
  final case class DupEdge(src: Long, dst: Long, jaccard: Double)
  final case class BlockState(
      ids: Array[Long], tokens: Array[Array[Long]], dropped: Boolean)

  val JaccardThreshold: Double = 0.35
  val DefaultMaxBlockSize: Int = Blocking.DefaultMaxBlockSize

  /** Map-side blocking-key explosion for a document stream: one
    * (key, id, sorted-distinct token hashes) row per blocking key, built
    * from `Blocking.sketch` and `Blocking.blockKeys` — the batch
    * `features` → `blockEntries` definitions (`StreamingDedupSpec`
    * checks the two agree). */
  def blockedDocs(spark: SparkSession, docs: Dataset[ExtractedDoc]): Dataset[BlockedDoc] = {
    import spark.implicits._
    docs.flatMap { d =>
      val s = Blocking.sketch(d)
      Blocking.blockKeys(s.normTitle, s.minhash).map(k => BlockedDoc(k, d.id, s.tokenHashes))
    }
  }

  /** Keyed-state comparison: each arriving doc scores against its block's
    * accumulated members (and earlier docs of the same trigger), then
    * joins the state. Works identically on a streaming Dataset (the
    * intended shape) and a batch one (Spark routes flatMapGroupsWithState
    * accordingly). */
  def duplicateEdges(
      spark: SparkSession,
      blocked: Dataset[BlockedDoc],
      maxBlockSize: Int = DefaultMaxBlockSize,
      stateTtl: Option[scala.concurrent.duration.FiniteDuration] = None): Dataset[DupEdge] = {
    import spark.implicits._
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    blocked
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, timeoutConf)(
        scoreBlock(maxBlockSize, stateTtl.map(_.toMillis)) _)
  }

  /** Pure state-transition function (unit-testable without a stream —
    * `StreamingDedupSpec` drives it through `TestGroupState`, including
    * the timeout transitions). With `ttlMs` set, every invocation
    * refreshes the key's processing-time timeout (Spark clears it on each
    * call), and a timed-out invocation removes the block's state — the
    * eviction that bounds perpetual-ingest state. Dropped (hot-block)
    * markers age out by the same TTL, so a stopped block eventually
    * reopens fresh. */
  def scoreBlock(maxBlockSize: Int, ttlMs: Option[Long] = None)(
      key: Long,
      docs: Iterator[BlockedDoc],
      state: GroupState[BlockState]): Iterator[DupEdge] = {
    if (ttlMs.isDefined && state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    var st = state.getOption.getOrElse(BlockState(Array.empty, Array.empty, dropped = false))
    if (st.dropped) {
      docs.foreach(_ => ())
      ttlMs.foreach(state.setTimeoutDuration) // keep the drop marker aging out
      return Iterator.empty
    }
    // deterministic within-trigger order (stream triggers impose no order)
    val arrived = docs.toArray.sortBy(_.id)
    val ids = scala.collection.mutable.ArrayBuffer.from(st.ids)
    val toks = scala.collection.mutable.ArrayBuffer.from(st.tokens)
    val out = Array.newBuilder[DupEdge]
    var dropped = false
    arrived.foreach { d =>
      if (!dropped && !ids.contains(d.id)) {
        if (ids.length >= maxBlockSize) {
          dropped = true
        } else {
          var i = 0
          while (i < ids.length) {
            val jac = Similarity.sortedJaccard(toks(i), d.tokenHashes)
            if (jac >= JaccardThreshold)
              out += DupEdge(math.min(ids(i), d.id), math.max(ids(i), d.id), jac)
            i += 1
          }
          ids += d.id
          toks += d.tokenHashes
        }
      }
    }
    state.update(
      if (dropped) BlockState(Array.empty, Array.empty, dropped = true)
      else BlockState(ids.toArray, toks.toArray, dropped = false))
    ttlMs.foreach(state.setTimeoutDuration)
    out.result().iterator
  }
}
