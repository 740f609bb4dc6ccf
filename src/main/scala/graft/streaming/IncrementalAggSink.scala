package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl.IncrementalAgg

/** Streaming materialized-view maintenance: every micro-batch folds into
  * an [[IncrementalAgg]] partial-state table, so the aggregate view is
  * continuously fresh at |batch| + |keys| cost per trigger — the
  * streaming counterpart of the batch refresh, and the capability that
  * turns "nightly full reload" into "always-on MV".
  *
  * Delivery: foreachBatch is checkpointed at-least-once — a failed
  * trigger REPLAYS its batch id. Unlike [[UpsertSink]] (whose MERGE is
  * naturally idempotent), re-folding a counting aggregate would
  * double-count; `refresh(batchId = …)` therefore commits the batch id
  * inside the state directory through the same promote rename as the
  * data, making every replay a no-op. State and progress cannot diverge:
  * they move in one rename.
  */
object IncrementalAggSink {

  /** Start the sink: each micro-batch of `rows` folds into the
    * partial-state table at `stateDir`. Read the view with
    * `IncrementalAgg.finalize(Sources.parquet(spark, stateDir), keys)`. */
  def start(rows: DataFrame, stateDir: String, keys: Seq[String],
            measures: Seq[String], checkpointDir: String): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          IncrementalAgg.refresh(batch.sparkSession, stateDir, batch,
            keys, measures, batchId = Some(batchId))
        }
      }
      .start()
}
