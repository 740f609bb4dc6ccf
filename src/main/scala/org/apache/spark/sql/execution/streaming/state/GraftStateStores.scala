package org.apache.spark.sql.execution.streaming.state

import java.util.UUID

import scala.collection.mutable

/** Bridge to Spark's JVM-wide registry of loaded state-store providers.
  *
  * A provider stays loaded after its query stops, holding its state rows
  * and threads, until the store maintenance task finds the run inactive.
  * A JVM that runs short streaming queries back to back (Bench, Verify,
  * the benchmark's passes) accumulates them: 16 per q_s_stream_distinct
  * run (8 state partitions × 2 stateful operators). The registry itself
  * is private, so it is read by reflection; only the providers of one
  * given run are touched, never those of another query. */
object GraftStateStores {
  private lazy val registry = {
    val f = StateStore.getClass.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    f.get(StateStore).asInstanceOf[mutable.HashMap[StateStoreProviderId, StateStoreProvider]]
  }

  /** Providers currently loaded for the query run `runId`. */
  def loaded(runId: UUID): Seq[StateStoreProviderId] =
    registry.synchronized(registry.keys.filter(_.queryRunId == runId).toSeq)

  /** Unload and close every provider of the STOPPED run `runId`; returns
    * how many there were. Unloading a running query's store would pull
    * it from under its tasks, hence the caller's stop comes first. */
  def unload(runId: UUID): Int = {
    val ids = loaded(runId)
    ids.foreach(StateStore.removeFromLoadedProvidersAndClose(_))
    ids.size
  }
}
