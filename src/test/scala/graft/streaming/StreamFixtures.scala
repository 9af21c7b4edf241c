package graft.streaming

import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp
import java.time.Instant

import graft.SparkSpec
import graft.operators.Events

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

/** Events, JSON drops, session-conf scoping and the checkpoint recovery
  * scenario shared by the streaming specs.
  */
trait StreamFixtures extends SparkSpec {
  import spark.implicits._

  protected def ev(id: Long, at: String, typ: String, value: Double): Ev =
    Ev(id, Timestamp.from(Instant.parse(at)), id % 7, typ, value, "{}")

  protected val batch1: Seq[Ev] = Seq(
    ev(1, "2024-01-01T00:00:30Z", "click", 1.25),
    ev(2, "2024-01-01T00:01:10Z", "click", 2.50),
    ev(3, "2024-01-01T00:06:00Z", "view", 10.00),
    ev(4, "2024-01-01T00:20:00Z", "click", 4.75))
  protected val late: Ev = ev(5, "2024-01-01T00:01:00Z", "view", 99.00) // < watermark (00:18) in batch 2
  protected val onTime2: Ev = ev(6, "2024-01-01T00:21:00Z", "view", 6.00)

  /** One JSON-lines file per element of `batches`, named from `from`, each
    * moved in whole (a file source never sees a half-written file).
    */
  protected def writeJson(dir: java.nio.file.Path, batches: Seq[Seq[Ev]], from: Int = 0): Unit =
    batches.zipWithIndex.foreach { case (evs, i) =>
      val json = evs.map(e =>
        s"""{"event_id":${e.event_id},"ts":"${e.ts.toInstant}","user_id":${e.user_id},""" +
          s""""event_type":"${e.event_type}","value":${e.value},"props":"{}"}""").mkString("\n")
      val name = s"f${from + i}.json"
      val tmp = Files.writeString(dir.resolve(s".$name.tmp"), json)
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }

  /** Runs `body` with session conf `key` set to `value`; `None` leaves it as
    * it is. The previous value comes back afterwards.
    */
  protected def withConf(key: String, value: Option[String])(body: => Unit): Unit = {
    val prev = spark.conf.getOption(key)
    value.foreach(spark.conf.set(key, _))
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Both keyed-state backends the engine supports: the default in-memory
    * (HDFS-backed) provider and RocksDB — the provider 100 TB-scale keyed
    * state actually runs on (state spills to local SSD instead of living on
    * the executor heap). The provider is read from the session conf at query
    * START, so scoping the setting around the scenario pins it per test.
    */
  protected val providers: Seq[(String, Option[String])] = Seq(
    "default" -> None,
    "rocksdb" -> Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

  protected val StateProviderKey = "spark.sql.streaming.stateStore.providerClass"
  protected val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** A checkpointed per-key query over a file source stops after one file
    * and restarts after a second arrived while it was down; the restarted
    * run must hold exactly the batch twin of both files. `firstRunManager`
    * names the checkpoint manager of the first run (`None`: the session's).
    */
  protected def assertRestartKeepsStateAndOffsets(tag: String, providerClass: Option[String],
                                                  firstRunManager: Option[String] = None): Unit =
    withConf(StateProviderKey, providerClass) {
      val dir = Files.createTempDirectory(s"graft_recov_src_$tag")
      val ckpt = Files.createTempDirectory(s"graft_recov_ckpt_$tag").toString
      def perKey = SensorStreams.perKeyStats(
        SensorStreams.parsed(SensorStreams.fileSource(spark, dir.toString)))

      writeJson(dir, Seq(batch1))
      withConf(CheckpointManagerKey, firstRunManager) {
        val q1 = SensorStreams.startMemory(perKey, s"recov_${tag}_run1", "complete",
          "1 second", Some(ckpt))
        try { q1.processAllAvailable() } finally q1.stop()
      }

      // second file arrives while the query is DOWN
      writeJson(dir, Seq(Seq(onTime2)), from = 1)
      val q2 = SensorStreams.startMemory(perKey, s"recov_${tag}_run2", "complete",
        "1 second", Some(ckpt))
      try {
        q2.processAllAvailable()
        val streamed = spark.table(s"recov_${tag}_run2").orderBy("event_type").collect().toSeq
        val batch = Events.perKeyStats((batch1 :+ onTime2).toDF)
          .orderBy("event_type").collect().toSeq
        // equality proves BOTH directions of recovery: batch1's contribution is
        // present (state restored from the checkpoint) and not double-counted
        // (f0's offset was committed, so the restarted run read only f1)
        assert(streamed === batch)
      } finally q2.stop()
    }
}
