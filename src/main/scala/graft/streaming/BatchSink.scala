package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one `foreachBatch` start the streaming pipelines share: a named
  * append-mode query that hands each micro-batch and its id to `write`,
  * checkpoints under `checkpointDir` and fires on a processing-time
  * trigger.
  */
object BatchSink {
  def start(df: DataFrame, name: String, checkpointDir: String, triggerInterval: String)(
      write: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .queryName(name)
      .outputMode("append")
      .foreachBatch(write)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .start()
}
