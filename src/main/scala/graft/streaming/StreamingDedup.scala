package graft.streaming

import graft.snapshot.{AppendSnapshotStore, BatchLog}
import graft.table.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming fuzzy (MinHash-LSH) near-dup detection against the accumulated
  * corpus — the streaming composition of [[graft.streaming.StreamingValidation.incrementalSink]]'s
  * micro-batch→snapshot bridge with [[graft.table.Dedup.incrementalLshPairs]].
  *
  * Each micro-batch of documents is checked for near-duplicates against
  * everything ingested before it (earlier micro-batches AND any corpus
  * seeded into the store before the stream started), then committed:
  *
  *  1. candidate generation joins the batch's MinHash signatures against the
  *     PERSISTED signature table (`sigDir`) — the accumulated corpus'
  *     token arrays are never read for banding, only for verifying the
  *     (rare) surviving candidate pairs, exactly the daily-crawl shape of
  *     the batch operator;
  *  2. `onPairs` receives the batch's verified fresh-involving pairs
  *     (`id_a, id_b, jaccard`) — each qualifying pair is emitted exactly
  *     once across the stream's lifetime (when its LATER side arrives),
  *     because prior×prior pairs are dropped inside the bucket lists;
  *  3. the batch is committed to the snapshot store (idempotency token =
  *     batchId, so a replayed micro-batch does not duplicate the corpus),
  *     then its signatures are published to the [[graft.snapshot.BatchLog]]
  *     at `sigDir` as `batch=<batchId>` — if absent, so a replay neither
  *     double-appends nor rewrites them. Signature batches written by other
  *     means (e.g. a seed corpus' `batch=seed`) are read alike.
  *
  * At-least-once caveat (standard foreachBatch): a crash between `onPairs`
  * and the streaming checkpoint advancing can re-emit one batch's pairs on
  * restart — downstream sinks should be idempotent on (id_a, id_b), or use
  * the committed store + batch incremental operator to reconcile.
  *
  * Hot-bucket caveat: the `maxBucket` guard is evaluated per MICRO-BATCH
  * view (this batch + accumulated signatures), so a band bucket that is
  * under the cap mid-stream but over it in the final corpus emits pairs the
  * one-shot batch operator would drop (and vice versa for a bucket already
  * hot at seed time). The stream-union ≡ batch-operator equivalence is
  * exact when no bucket crosses `maxBucket` between any batch view and the
  * full-corpus view — size `maxBucket` well above the expected bucket
  * population (as the batch operator already requires for recall), or
  * reconcile against the batch operator on the committed store.
  *
  * Scale shape (unchanged from the batch operator): the band join carries
  * only (band, key, id, fresh-flag), hot buckets are capped, the corpus
  * payload never shuffles, and per-batch work is proportional to the
  * BATCH — the accumulated corpus contributes signatures (K longs/doc)
  * plus verification reads of matched candidates only.
  *
  * Returns a DataStreamWriter — call `.start()` (with a
  * checkpointLocation for production) to run. */
object StreamingDedup {

  def nearDupSink(stream: DataFrame, store: AppendSnapshotStore, table: String,
                  sigDir: String, idCol: String, tokensCol: String,
                  partitionCol: String, minJaccard: Double,
                  k: Int = 16, bands: Int = 4, seed: Long = 42L,
                  maxBucket: Int = 1000,
                  onPairs: DataFrame => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val sigs = new BatchLog(batch.sparkSession, new org.apache.hadoop.fs.Path(sigDir))
        val hasPrior = store.currentSnapshot(table).isDefined
        val priorSigs =
          if (sigs.names.isEmpty) None else Some(sigs.readAll().select("id", "sig"))
        val prior =
          if (hasPrior) store.readAsOf(table).drop("_snap_id")
          else batch.limit(0)
        val pairs = Dedup.incrementalLshPairs(prior, batch, idCol, tokensCol,
          minJaccard, k, bands, seed, maxBucket, priorSigs = priorSigs)
        onPairs(pairs)
        store.commitAppend(table, batch, partitionCol,
          idempotencyToken = Some(s"stream-dedup-batch-$batchId"))
        sigs.publish(batchId.toString,
          Dedup.minhashSignatures(batch, idCol, tokensCol, k, seed))
      }
    }
}
