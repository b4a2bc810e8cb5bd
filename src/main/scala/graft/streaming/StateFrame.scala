package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.bridge

/** The state a stream holder accumulates: one DataFrame, replaced whole
  * by each micro-batch. The frame is a local checkpoint, so its lineage
  * stays one scan however many batches fed it, and [[update]] frees the
  * checkpoint it replaces: a holder keeps the blocks of one state, never
  * one per batch.
  *
  * Contract: a frame read through [[get]] is valid until the next batch
  * is applied; a reader that needs it longer copies it out (collects or
  * writes it). Updates come from the streaming query's batch callback,
  * which runs one batch at a time.
  *
  * At cluster scale the state is a keyed table in the lake and [[update]]
  * is a MERGE; the checkpoint is the single-JVM stand-in with the same
  * plan shape.
  */
final class StateFrame(initial: DataFrame) {
  private val frame = new AtomicReference(initial.localCheckpoint())

  def get: DataFrame = frame.get

  /** Replace the state with `f(state)`, materialized, then free the old. */
  def update(f: DataFrame => DataFrame): Unit =
    bridge.unpersistCheckpoint(frame.getAndSet(f(frame.get).localCheckpoint()))
}
