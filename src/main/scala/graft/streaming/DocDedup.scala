package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Layout, TextPipeline}

/** Incremental (streaming) near-duplicate detection — the stream twin of
  * [[graft.operators.TextPipeline.dedupCorpus]]'s candidate stage, for
  * the ingest-time question "is this document a near-dup of anything
  * already admitted?" asked of an unbounded feed.
  *
  * Shape, end to end:
  *
  *  1. MinHash signatures are computed SCAN-LOCALLY: where the batch path
  *     aggregates exploded `(doc_id, word)` rows
  *     ([[TextPipeline.minHashBanded]]), a stream can't afford a
  *     signature shuffle per micro-batch, so the native one-scan
  *     `minhash_sig` kernel folds all 16 mins per row in a single byte
  *     pass. Same `(a,b)` parameter family and word hash → the
  *     signatures are IDENTICAL to the batch path's (pinned in
  *     StreamingSpec), so a corpus can move between the two pipelines.
  *  2. Banded bucket keys `(band, bsig)` key the arbitrary-state stage:
  *     each bucket's state is ONE representative (first doc_id to claim
  *     the bucket, plus its full signature) — O(1) state per bucket, the
  *     stream analog of the batch hot-bucket star guard
  *     ([[TextPipeline.bucketGuardedCandidates]]): every later arrival
  *     pairs with the representative only, never all-pairs, so a
  *     boilerplate flood emits O(n) edges and bounded state no matter how
  *     degenerate the feed.
  *  3. The estimated Jaccard (fraction of agreeing signature components —
  *     the standard MinHash estimator) is computed inside the processor
  *     from the stored signature and filtered at `tau`, so candidate
  *     verification needs no second join.
  *
  * A document colliding with the same representative in several bands
  * emits one [[DocDedup.Match]] per band (the `band` column keeps rows
  * distinct); consumers wanting one verdict per doc take
  * `max(est_jaccard)` per (doc_id, dup_of).
  *
  * State lifetime: one representative per observed bucket — the standing
  * dedup index, which is exactly what incremental ingest needs to
  * remember. Feeds where old representatives should age out re-arm an
  * event-time timer per bucket, the [[EventOps.TtlTotalsProcessor]]
  * pattern, unchanged here to keep the operator minimal.
  */
object DocDedup {

  /** The minimal incoming-document shape. */
  case class Doc(doc_id: Long, text: String)

  /** [[Doc]] with an event time, for the TTL variant. */
  case class TsDoc(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** One banded-signature row of an incoming document. */
  case class BandRow(doc_id: Long, band: Int, bsig: String, sig: Array[Long])

  /** [[BandRow]] plus the document's event time. */
  case class BandRowTs(doc_id: Long, band: Int, bsig: String, sig: Array[Long],
                       ts: java.sql.Timestamp)

  /** An admitted near-dup candidate: `doc_id` collided with the earlier
    * `dup_of` in `band`, with estimated Jaccard `est_jaccard`. */
  case class Match(doc_id: Long, dup_of: Long, band: Int, est_jaccard: Double)

  // public: the state-encoder's generated code calls the accessors
  case class BucketRep(rep_id: Long, sig: Array[Long])

  /** Banded MinHash rows for a `(doc_id, text)` frame, scan-local (no
    * shuffle): the native one-scan [[graft.functions.Text.minhashSig]]
    * kernel computes all `TextPipeline.LshHashes` mins in ONE byte pass,
    * with the same hash parameters as the batch path so signatures match
    * the batch pipeline exactly. (The previous HOF formulation — 16
    * separate `array_min(transform(words, ...))` columns — duplicated
    * the tokenize+distinct subtree into every hash: 16 tokenizations per
    * row, measured as 70% of streaming ingest wall time. StreamProfile
    * r8 decomposes the cost; StreamingSpec pins kernel≡HOF≡batch
    * signatures.) Tokenless docs produce no rows, as on the batch path.
    * Works on both static and streaming input. */
  def bandedRows(docsIn: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val rows = TextPipeline.LshHashes / TextPipeline.LshBands
    val bandCols = (0 until TextPipeline.LshBands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws("_",
          (0 until rows).map(r => col("sig")(bnd * rows + r)): _*).as("bsig"))
    }
    val kept = carry.map(col)
    docsIn
      .select(col("doc_id") +:
        Text.minhashSig(col("text"), TextPipeline.LshHashes).as("sig") +:
        kept: _*)
      // empty sig == no tokens == no band rows (batch no-token rule);
      // sig is referenced 17× below — a multi-use non-cheap alias, which
      // CollapseProject refuses to inline, so the kernel runs once per row
      .where(size(col("sig")) > 0)
      .select(col("doc_id") +: explode(array(bandCols: _*)).as("bd") +:
        col("sig") +: kept: _*)
      .select(col("doc_id") +: col("bd.band").as("band") +:
        col("bd.bsig").as("bsig") +: col("sig") +: kept: _*)
  }

  /** Per-bucket representative state: the first doc_id to claim the
    * bucket stays its representative; every later arrival is compared to
    * it and emitted iff the signature-estimated Jaccard reaches `tau`.
    * Within a micro-batch, rows are processed in doc_id order so the
    * representative (and therefore the output) is deterministic
    * regardless of partition iteration order. */
  class BucketProcessor(tau: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, String), BandRow, Match] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var rep: ValueState[BucketRep] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      rep = getHandle.getValueState[BucketRep](
        "rep", Encoders.product[BucketRep], TTLConfig.NONE)

    override def handleInputRows(key: (Int, String), rows: Iterator[BandRow],
                                 timers: TimerValues): Iterator[Match] = {
      val sorted = rows.toArray.sortBy(_.doc_id)
      val out = Seq.newBuilder[Match]
      var cur = Option(rep.get())
      sorted.foreach { r =>
        cur match {
          case None =>
            cur = Some(BucketRep(r.doc_id, r.sig))
            rep.update(cur.get)
          case Some(b) if b.rep_id == r.doc_id => () // replayed representative
          case Some(b) =>
            var agree = 0; var i = 0
            while (i < b.sig.length) {
              if (b.sig(i) == r.sig(i)) agree += 1; i += 1
            }
            val est = agree.toDouble / b.sig.length
            if (est >= tau) out += Match(r.doc_id, b.rep_id, key._1, est)
        }
      }
      out.result().iterator
    }
  }

  /** Incremental near-dup candidates over a streaming `(doc_id, text)`
    * frame: one [[Match]] per (band collision with estimated Jaccard ≥
    * `tau`). The only shuffle per micro-batch is the keyed-state
    * exchange on `(band, bsig)`. Requires the RocksDB state store
    * provider (as all `transformWithState` ops do). */
  def incrementalCandidates(docs: DataFrame, tau: Double = 0.5): Dataset[Match] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    bandedRows(docs).as[BandRow]
      .groupByKey(r => (r.band, r.bsig))
      .transformWithState(new BucketProcessor(tau),
        TimeMode.None(), OutputMode.Append())
  }

  // public: the state-encoder's generated code calls the accessors.
  // `armed` caches the registered expiry-timer target so arrivals never
  // need a listTimers() round-trip into the store.
  case class BucketRepT(rep_id: Long, sig: Array[Long], armed: Long)

  /** [[BucketProcessor]] with EVENT-TIME TTL on the representative (the
    * [[EventOps.TtlTotalsProcessor]] pattern): bucket activity re-arms a
    * timer past `last event time + ttl`; when the watermark passes it
    * the representative is dropped, so state is bounded by
    * event-time-ACTIVE buckets and a replay produces identical results
    * at any speed. A later document re-claims the bucket from scratch —
    * the dedup horizon becomes "anything admitted within the last ttl",
    * which is how a perpetual ingest feed keeps its index from growing
    * without bound.
    *
    * Timer cost, engineered (StreamProfile r8 measured naive re-arming
    * at ~35% of ingest wall time): the armed target lives IN the value
    * state (no listTimers() store scan per arrival), and targets are
    * quantized UP to a `ttl/64` grid — the timer only moves when
    * activity crosses a grid line, so a hot bucket pays one
    * delete+register per grid crossing instead of three timer ops per
    * batch. Quantizing UP keeps the contract one-sided: expiry never
    * fires before `last activity + ttl` (the armed target is ≥ every
    * quantized ideal it absorbed), at most `ttl/64` late — the dedup
    * horizon is a superset of the declared ttl, never a subset. Forward-
    * only still holds: a late-but-valid row's older ideal quantizes at
    * or below the armed target and is a no-op. */
  class TtlBucketProcessor(tau: Double, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, String), BandRowTs, Match] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var rep: ValueState[BucketRepT] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      rep = getHandle.getValueState[BucketRepT](
        "rep", Encoders.product[BucketRepT], TTLConfig.NONE)

    override def handleInputRows(key: (Int, String), rows: Iterator[BandRowTs],
                                 timers: TimerValues): Iterator[Match] = {
      val sorted = rows.toArray.sortBy(r => (r.ts.getTime, r.doc_id))
      val out = Seq.newBuilder[Match]
      val prev = rep.get()
      var curId = if (prev != null) prev.rep_id else -1L
      var curSig: Array[Long] = if (prev != null) prev.sig else null
      sorted.foreach { r =>
        if (curSig == null) {
          curId = r.doc_id; curSig = r.sig
        } else if (curId != r.doc_id) { // == would be a replayed rep
          var agree = 0; var i = 0
          while (i < curSig.length) {
            if (curSig(i) == r.sig(i)) agree += 1; i += 1
          }
          val est = agree.toDouble / curSig.length
          if (est >= tau) out += Match(r.doc_id, curId, key._1, est)
        }
      }
      val slack = math.max(1L, ttlMs / 64)
      val ideal = sorted(sorted.length - 1).ts.getTime + ttlMs // ts-sorted max
      val targetQ = ((ideal + slack - 1) / slack) * slack
      val armed = if (prev != null) prev.armed else 0L
      if (targetQ > armed) {
        if (armed > 0) getHandle.deleteTimer(armed)
        getHandle.registerTimer(targetQ)
        rep.update(BucketRepT(curId, curSig, targetQ))
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: (Int, String), timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[Match] = {
      rep.clear()
      Iterator.empty
    }
  }

  /** TTL variant of [[incrementalCandidates]] over a `(doc_id, text,
    * ts)` stream: representatives age out after `ttlMs` of event-time
    * bucket inactivity (watermark-driven), bounding state on perpetual
    * feeds. Requires a watermark on `ts`.
    *
    * TTL clock, precisely: every bucket ARRIVAL — matching or not —
    * re-arms the expiry timer, so the horizon is "ttl since the last
    * bucket activity", NOT "ttl since the representative was admitted".
    * Any traffic into a bucket keeps its representative alive
    * indefinitely; callers wanting admission-anchored expiry should not
    * read this operator as providing it. */
  def incrementalCandidatesTtl(docs: DataFrame, tau: Double = 0.5,
                               ttlMs: Long = 24L * 3600 * 1000,
                               lateness: String = "10 minutes"): Dataset[Match] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    bandedRows(docs.withWatermark("ts", lateness), carry = Seq("ts"))
      .as[BandRowTs]
      .groupByKey(r => (r.band, r.bsig))
      .transformWithState(new TtlBucketProcessor(tau, ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // ------------------------------------------------------- verdict stream

  /** One banded probe: `doc_id` compared against its bucket's
    * representative in `band`. `dup_of = -1` when there was nothing to
    * compare to (the doc claimed the bucket, IS the replayed
    * representative, or — band = -1 — had no tokens at all); otherwise
    * `jac` is the EXACT word-set Jaccard against the representative,
    * the same verification [[TextPipeline.minHashLshPairs]] applies to
    * its bucket candidates. */
  case class Probe(doc_id: Long, band: Int, dup_of: Long, jac: Double)

  /** [[BandRow]] carrying the doc's distinct word set instead of the
    * MinHash signature — the verdict path verifies candidates exactly. */
  case class BandRowW(doc_id: Long, band: Int, bsig: String, words: Seq[String])

  // public: the state-encoder's generated code calls the accessors
  case class WordRep(rep_id: Long, words: Seq[String])

  /** [[BucketProcessor]] analog for the verdict path. State per bucket
    * is the word sets of up to `cap` members — the SAME bound the batch
    * hot-bucket guard places on all-pairs buckets
    * ([[TextPipeline.bucketGuardedCandidates]]), so the stream's
    * comparison relation covers exactly the batch candidate relation
    * restricted to (earlier, later) pairs: small buckets compare every
    * arrival to every stored member; a flood bucket saturates at `cap`
    * stored members and later arrivals still compare against those (a
    * superset of the batch star edges, whose representative is stored
    * first). Each arrival emits ONE [[Probe]] per band — its best match
    * (max exact Jaccard, ties → min doc_id) among stored members — so
    * output stays O(bands) per document no matter how full the bucket.
    * No tau filter here: the fold applies it, keeping this stage
    * threshold-free. */
  class WordBucketProcessor(cap: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, String), BandRowW, Probe] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders

    @transient private var members: ListState[WordRep] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[WordRep](
        "members", Encoders.product[WordRep], TTLConfig.NONE)

    override def handleInputRows(key: (Int, String), rows: Iterator[BandRowW],
                                 timers: TimerValues): Iterator[Probe] = {
      val sorted = rows.toArray.sortBy(_.doc_id)
      val out = Seq.newBuilder[Probe]
      val stored = scala.collection.mutable.ArrayBuffer.empty[WordRep]
      members.get().foreach(stored += _)
      sorted.foreach { r =>
        if (stored.exists(_.rep_id == r.doc_id)) {
          out += Probe(r.doc_id, key._1, -1L, 0.0) // replayed member
        } else {
          val sb = r.words.toSet
          var bestId = -1L
          var bestJac = 0.0
          stored.foreach { m =>
            val sa = m.words.toSet
            val i = (sa & sb).size.toDouble
            val jac = i / (sa.size + sb.size - i)
            if (jac > bestJac || (jac == bestJac && bestId >= 0 && m.rep_id < bestId))
              { bestId = m.rep_id; bestJac = jac }
          }
          out += Probe(r.doc_id, key._1, if (bestJac > 0.0) bestId else -1L,
            bestJac)
          if (stored.size < cap) {
            val w = WordRep(r.doc_id, r.words)
            stored += w
            members.appendValue(w)
          }
        }
      }
      out.result().iterator
    }
  }

  /** Per-band probes for a streaming `(doc_id, text)` frame — stage one
    * of the keep/drop verdict pipeline. Tokenless documents never reach
    * the state stage (no band rows) but still need a verdict, so their
    * probe row (band = -1, nothing to compare) is emitted scan-locally.
    * NULL text counts as tokenless: it is coalesced to '' up front so
    * the one-verdict-per-document contract holds (without the coalesce,
    * `size(wordsOf(NULL))` is NULL and a null-text doc would match
    * neither the banded nor the tokenless branch — no verdict at all). */
  def probes(docsIn: DataFrame): Dataset[Probe] = {
    import docsIn.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val docs = docsIn.withColumn("text", coalesce(col("text"), lit("")))
    val withW = docs.withColumn("wset", array_distinct(Text.wordsOf(col("text"))))
    val probed = bandedRows(withW, carry = Seq("wset"))
      .select(col("doc_id"), col("band"), col("bsig"), col("wset").as("words"))
      .as[BandRowW]
      .groupByKey(r => (r.band, r.bsig))
      .transformWithState(new WordBucketProcessor(TextPipeline.LshMaxBucket),
        TimeMode.None(), OutputMode.Append())
    val tokenless = docs.where(size(Text.wordsOf(col("text"))) === 0)
      .select(col("doc_id"), lit(-1).as("band"), lit(-1L).as("dup_of"),
        lit(0.0).as("jac"))
      .as[Probe]
    probed.union(tokenless)
  }

  /** Fold per-band [[Probe]] rows into one verdict per document:
    * `keep = true` iff no representative matched at `jac >= tau`;
    * dropped docs carry their best match (max jac, ties → min dup_of,
    * jac rounded to 4 decimals before ranking — the q58 reproducibility
    * protocol). A plain batch aggregation: every band row of a document
    * is exploded from ONE input row, so they always share a micro-batch
    * and the per-batch fold is complete — no cross-batch state. */
  def foldVerdicts(probes: DataFrame, tau: Double): DataFrame = {
    val best = probes
      .where(col("dup_of") >= 0 && col("jac") >= tau)
      .groupBy("doc_id")
      .agg(max(struct(round(col("jac"), 4).as("jac"),
        (-col("dup_of")).as("nd"))).as("b"))
      .select(col("doc_id"), (-col("b.nd")).as("dup_of"), col("b.jac").as("jac"))
    probes.select("doc_id").distinct()
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNull.as("keep"),
        col("dup_of"), col("jac"))
  }

  /** Instant per-arrival keep/drop verdicts — GREEDY arrival dedup:
    * [[probes]] folded per micro-batch by [[foldVerdicts]] into an
    * epoch-keyed (replay-idempotent) parquet sink at `outDir/epoch=N`.
    * A doc is DROPPED iff some stored bucket member (an earlier-arrived
    * doc, kept or itself dropped) matches it at exact Jaccard ≥ tau;
    * the verdict is emitted the moment the doc arrives and never
    * revised — what an admission-control ingest gate needs.
    *
    * Relation to the batch pipeline, honestly stated: batch
    * [[TextPipeline.dedupCorpus]](electBy = "first") survivors are
    * always a SUBSET of greedy keeps (an earlier near-dup disqualifies
    * a doc under both), with equality exactly on corpora whose near-dup
    * components are arrival-cliques — every non-first member directly
    * near-dups an earlier member, the shape LSH copy-families have. On
    * chain-shaped components, where a middle doc's only near-dup
    * arrives LATER, batch transitivity drops a doc this stream keeps —
    * no algorithm emitting irrevocable verdicts at arrival can do
    * otherwise. For exact batch parity at every prefix of the stream,
    * use [[survivorQuery]], whose snapshots may revoke. Both properties
    * are pinned in StreamingSpec. */
  def verdictQuery(docs: DataFrame, tau: Double, outDir: String,
                   checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    probes(docs).writeStream
      .foreachBatch { (batch: Dataset[Probe], epochId: Long) =>
        foldVerdicts(batch.toDF(), tau)
          .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  // ------------------------------------------------- survivor index

  /** One ingest epoch of [[survivorQuery]] — a STATIC-frame combinator,
    * also the unit StreamingSpec exercises directly. Appends the batch
    * to the standing stores (ids / distinct word sets / banded rows,
    * each under `epoch=N` so a failure-recovery replay overwrites
    * rather than duplicates), generates candidate pairs touching the
    * NEW docs only (new×standing + new×new via the banded bucket join —
    * the standing side never re-pairs against itself, the q65 posture),
    * verifies them at exact Jaccard ≥ tau, appends to the cumulative
    * pair store, and overwrites `outDir/epoch=N` with the CURRENT
    * survivor set (min-id election over connected components of all
    * pairs so far).
    *
    * Hot buckets: candidate generation applies the batch guard against
    * the CURRENT bucket view — buckets ≤ `maxBucket` members join
    * all-pairs, larger ones star to their min-id member — so a
    * boilerplate flood costs O(new) edges per epoch, never O(bucket²).
    *
    * Per-epoch cost beyond the new batch: one scan of the standing
    * banded store and components over the cumulative PAIR set —
    * near-dup pairs, ≪ corpus. Pass `bandedTable` to keep the banded
    * index as an epoch-partitioned table BUCKETED on (band, bsig)
    * instead of plain parquet: the guard aggregate and candidate join
    * then read the standing side Exchange-free and only the new batch
    * shuffles (the q65 posture, asserted in LayoutSpec). */
  def ingestEpoch(batch: DataFrame, tau: Double, stateDir: String,
                  outDir: String, epochId: Long,
                  maxBucket: Int = TextPipeline.LshMaxBucket,
                  bandedTable: Option[String] = None,
                  indexBuckets: Int = 8,
                  pruneStandingBuckets: Int = 0): Unit = {
    val spark = batch.sparkSession
    val b = batch.persist()
    b.select("doc_id")
      .write.mode("overwrite").parquet(s"$stateDir/ids/epoch=$epochId")
    // r13 (VERDICT r12 #2): word-set state is written SORTED so the
    // per-candidate verify below can use the sorted two-pointer count
    // kernel instead of array_intersect's per-PAIR hash-set build —
    // the same swap the batch q100/q114 verify made in r12.
    b.select(col("doc_id"),
        sort_array(array_distinct(Text.wordsOf(col("text")))).as("words"))
      .write.mode("overwrite").parquet(s"$stateDir/words/epoch=$epochId")
    val bandedNew = bandedRows(b).select("doc_id", "band", "bsig")
    bandedTable match {
      case Some(t) =>
        // new tables get the file-prunable keyed layout (bucketed on the
        // single bkey column, sorted by (band, bsig) for row-group
        // stats); tables created before round 7 keep their (band, bsig)
        // bucket spec — insertInto must match the existing schema
        val keyed = !spark.catalog.tableExists(t) ||
          spark.table(t).columns.contains("bkey")
        if (keyed)
          Layout.appendEpochBucketed(
            bandedNew.withColumn("bkey", hash(col("band"), col("bsig"))),
            t, indexBuckets, epochId, Seq("bkey"), Seq("band", "bsig"))
        else
          Layout.appendEpochBucketed(bandedNew, t, indexBuckets, epochId,
            Seq("band", "bsig"))
      case None =>
        bandedNew.write.mode("overwrite")
          .parquet(s"$stateDir/banded/epoch=$epochId")
    }
    b.unpersist()

    val bandedAll = bandedTable.map(spark.table)
      .getOrElse(spark.read.parquet(s"$stateDir/banded"))
    val bandCols =
      Seq("doc_id", "band", "bsig") ++
        (if (bandedAll.columns.contains("bkey")) Seq("bkey") else Nil)
    val allB = bandedAll.select(bandCols.head, bandCols.tail: _*)
    val newB = bandedAll.where(col("epoch") === epochId)
      .select(bandCols.head, bandCols.tail: _*)
    // STATE-FORMAT CONTRACT (r13): words/epoch=* arrays are SORTED at
    // write (above) — the sorted two-pointer verify reads them as-is.
    // A read-side re-sort was measured and REJECTED: it re-sorts every
    // standing doc's set per epoch while the verify only touches
    // candidates (EpochBench sf1dup 3-epoch total 21.8 s with the
    // re-sort vs 19.9 s baseline). State dirs written before r13 must
    // be rebuilt (all tests/benches create state fresh per run).
    val words = spark.read.parquet(s"$stateDir/words")
      .select("doc_id", "words")
    // subset-key co-partition knob: lets the bkey-bucketed standing
    // table satisfy the (bkey, band, bsig) join distribution from its
    // bucket spec — no standing shuffle; results identical either way.
    // Set around OUR action only (the pairs write below plans and runs
    // inside this scope), restored after.
    val coKey = "spark.sql.requireAllClusterKeysForCoPartition"
    val coPrev = spark.conf.getOption(coKey)
    spark.conf.set(coKey, "false")
    try {
      TextPipeline.incrementalGuardedCandidates(allB, newB, maxBucket,
          pruneBuckets = pruneStandingBuckets)
        // exact verification of candidates only — minHashLshPairs' contract
        .join(words.select(col("doc_id").as("a"), col("words").as("wa")), "a")
        .join(words.select(col("doc_id").as("b"), col("words").as("wb")), "b")
        // r13: sorted distinct word sets → native two-pointer |A∩B|
        // (graft.expressions.VectorExpressions.sortedIntersectCount);
        // same count array_intersect+size produced, no per-pair hash set
        .withColumn("i",
          graft.expressions.VectorExpressions
            .sortedIntersectCount(col("wa"), col("wb")).cast("double"))
        .where(col("i") / (size(col("wa")) + size(col("wb")) - col("i")) >= tau)
        .select("a", "b")
        .write.mode("overwrite").parquet(s"$stateDir/pairs/epoch=$epochId")
    } finally coPrev match {
      case Some(v) => spark.conf.set(coKey, v)
      case None => spark.conf.unset(coKey)
    }

    val allPairs = spark.read.parquet(s"$stateDir/pairs").select("a", "b")
    val losers = TextPipeline.connectedComponents(allPairs)
      .where(col("id") =!= col("rep"))
      .select(col("id").as("doc_id"))
    // un-hinted anti join: losers is O(duplicate count) — AQE broadcasts
    // it when small, shuffles when a dup-heavy feed makes it O(corpus)
    spark.read.parquet(s"$stateDir/ids").select("doc_id")
      .join(losers, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
  }

  /** Streaming SURVIVOR-INDEX maintenance — the stream form of
    * [[TextPipeline.dedupCorpus]](method = "minhash-lsh", electBy =
    * "first"): after every micro-batch, `outDir/epoch=N` holds EXACTLY
    * the batch pipeline's survivors of everything ingested so far —
    * same candidate relation, same exact-Jaccard verification, same
    * connected components, same min-id election (golden-tested in
    * StreamingSpec, chains included, when neither side's hot-bucket cap
    * truncates; with finite caps both sides approximate the same target
    * relation). The price of transitive parity is that snapshots may
    * REVOKE: a later bridge doc can merge two clusters and retroactively
    * drop an earlier survivor from the next snapshot. Ingest gates that
    * need irrevocable per-arrival answers use [[verdictQuery]] instead;
    * pipelines that re-read the survivor set (the normal training-data
    * pattern) read the latest epoch here. */
  def survivorQuery(docs: DataFrame, tau: Double, stateDir: String,
                    outDir: String, checkpointDir: String,
                    maxBucket: Int = TextPipeline.LshMaxBucket,
                    bandedTable: Option[String] = None,
                    indexBuckets: Int = 8,
                    pruneStandingBuckets: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        ingestEpoch(batch, tau, stateDir, outDir, epochId, maxBucket,
          bandedTable, indexBuckets, pruneStandingBuckets)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
