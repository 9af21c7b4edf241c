package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}

import graft.pipeline.{CorpusQc, Dedup, HtmlExtract}

/** One admitted document of [[CorpusIngest.domainCappedStream]]. */
case class DomainAdmit(doc_id: Long, regdom: String)

/** Streaming corpus ingestion — the LLM-data front door, end to end:
  * arriving documents are QC'd (repetition flags), checked for benchmark
  * contamination, probed for near-dups against the persisted corpus band
  * index, chunked into trainer-sized windows, and landed idempotently in
  * per-batch parquet directories.
  *
  * The four per-batch stages are the SAME batch operators the oracle
  * checks (`repetitionOf` / `contaminationOf` / `probeBatch` /
  * `TrainPrep.chunkDocsOf`) — documents
  * arrive whole, every metric is doc-local or probe-shaped, so a micro-batch
  * is just a small batch and the stream trivially converges to its batch
  * twin (CorpusIngestSpec asserts it). This is the honest architecture for
  * corpus ingest: no unbounded keyed state, no watermark gymnastics —
  * stateful machinery belongs to event streams (SensorStreams), not to
  * atomic-document pipelines.
  *
  * Exactly-once story: identical to [[SensorStreams.startDurable]] —
  * at-least-once batchId replay × per-batch-directory overwrite.
  *
  * Scale: per-batch cost ∝ batch size (signatures map-only, benchmark set
  * broadcast, corpus touched only through the bucketed band index); sizing
  * the trigger interval sizes the output files.
  */
object CorpusIngest {

  /** Streaming exact dedup at the ingest front door — the streaming twin of
    * `dedup_exact`: a document whose content fingerprint — md5 of the sorted
    * distinct token set, the IDENTICAL normalized expression the batch query
    * groups on (`Dedup.tokenSet`), so docs differing only in case,
    * whitespace, punctuation, or token order dedup the same way in both
    * pipelines — was already admitted within the watermark horizon is
    * dropped before any downstream stage pays for it.
    *
    * `dropDuplicatesWithinWatermark` is the operator that makes this safe at
    * 100 TB: fingerprint state lives only until the watermark passes its
    * event time + horizon, so state is bounded by the horizon's ingest
    * volume — where a bare streaming `dropDuplicates` would pin EVERY
    * fingerprint ever seen forever. The trade is explicit and honest: a
    * re-crawl of the same document farther apart than the horizon is
    * re-admitted (CorpusIngestSpec pins both directions) — cross-horizon
    * dedup belongs to the batch band-index probe (`probeBatch`), which this
    * stage feeds.
    */
  /** Streaming per-domain admission cap — the stateful twin of the batch
    * `html_host_caps` pass: at most `cap` documents per registrable domain
    * are admitted ACROSS the stream's lifetime, first-come (within a
    * micro-batch, lowest doc_id first, so a batch replay admits the same
    * rows). Blocklisted domains are dropped by the same broadcast anti-join
    * the batch pass uses (a stream-static join — map-only on the stream
    * side).
    *
    * State is ONE Long per domain (the admitted count) with no timeout —
    * the honest shape for a crawl quota: domains-seen is the corpus's
    * domain cardinality, kilobytes per million domains, and a quota that
    * "expires" would readmit what it exists to exclude. This is the
    * `flatMapGroupsWithState` slot where the stateful machinery genuinely
    * pays for itself: a `dropDuplicates`-style operator cannot COUNT, and
    * a windowed agg cannot EMIT the admitted rows.
    *
    * Convergence contract (CorpusIngestSpec): when documents arrive in
    * doc_id order (batch boundaries anywhere), the admitted set equals the
    * batch pass's kept set exactly; out-of-order arrival degrades to
    * first-ARRIVED-wins, the production semantics of a live quota.
    */
  def domainCappedStream(docStream: DataFrame,
      cap: Int = HtmlExtract.HostCap): Dataset[DomainAdmit] = {
    import org.apache.spark.sql.functions._
    val spark = docStream.sparkSession
    import spark.implicits._
    val blocked = spark.createDataFrame(
      HtmlExtract.BlockedDomains.map(Tuple1(_))).toDF("regdom")
    docStream
      .select(col("doc_id"),
        HtmlExtract.registrableDomain(
          expr(s"parse_url(${HtmlExtract.urlSql}, 'HOST')")).as("regdom"))
      .join(broadcast(blocked), Seq("regdom"), "left_anti")
      .as[DomainAdmit]
      .groupByKey(_.regdom)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[DomainAdmit],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val admitted = state.getOption.getOrElse(0L)
          val room = math.max(0L, cap - admitted).toInt
          // keep only the `room` smallest doc_ids with a bounded max-heap —
          // O(batch·log cap) time, O(cap) executor memory. Materializing and
          // sorting the whole (domain, micro-batch) group buffered an
          // unbounded number of documents for a cap of 5: a hot domain's
          // first batch at crawl scale is exactly the group that explodes.
          val take =
            if (room == 0) Seq.empty[DomainAdmit]
            else {
              val heap = new scala.collection.mutable.PriorityQueue[DomainAdmit]()(
                Ordering.by(_.doc_id))
              rows.foreach { r =>
                if (heap.size < room) heap.enqueue(r)
                else if (r.doc_id < heap.head.doc_id) { heap.dequeue(); heap.enqueue(r) }
              }
              heap.dequeueAll.reverse // ascending doc_id: deterministic admit order
            }
          if (take.nonEmpty) state.update(admitted + take.size)
          take.iterator
      }
  }

  /** Robots admission at the streaming front door — the streamed twin of
    * the batch `html_robots_parsed` chain: admission rules are DERIVED
    * from parsed robots.txt payloads ([[graft.pipeline.RobotsTxt.parsedRules]],
    * RFC 9309 grammar + group selection) and applied with the §2.2.2
    * longest-match decision ([[RobotsTxt.robotsDecide]]). The robots
    * corpus is a STATIC domain-grain relation (refreshed per crawl, tiny
    * next to the page stream), so the parsed per-domain rule arrays
    * aggregate once and BROADCAST into every micro-batch — a
    * stream-static left join; the page stream stays map-only, no state,
    * no watermark. Each document's (regdom, path) derives from its
    * `source` URL — the field the WARC/JSONL front doors fill from the
    * crawl's own attribution headers.
    *
    * Replaces the pre-parse fixture rule table in the streaming path:
    * the stream now consumes the same derived rules as the batch pass
    * (CorpusIngestSpec pins stream/batch convergence of the admitted
    * set).
    */
  def robotsAdmittedStream(docStream: DataFrame, robots: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val pages = docStream
      .withColumn("regdom", HtmlExtract.registrableDomain(
        expr("parse_url(source, 'HOST')")))
      .withColumn("path", coalesce(expr("parse_url(source, 'PATH')"), lit("/")))
    graft.pipeline.RobotsTxt.robotsDecide(pages,
        graft.pipeline.RobotsTxt.parsedRules(robots))
      .drop("regdom", "path")
  }

  def dedupedStream(docStream: DataFrame, horizon: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions._
    docStream
      .withColumn("fp", expr(s"md5(array_join(${Dedup.tokenSet}, ' '))"))
      .withWatermark("ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("fp")
  }

  /** The per-batch stage runner + idempotent writer, exposed for replay
    * tests and for running the same stages on a static batch.
    */
  def batchWriter(spark: SparkSession, sfDir: String, outDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      CorpusQc.repetitionOf(batch)
        .write.mode("overwrite").parquet(s"$outDir/qc/batch_id=$batchId")
      CorpusQc.contaminationOf(batch, CorpusQc.benchShingles(spark, sfDir))
        .write.mode("overwrite").parquet(s"$outDir/contam/batch_id=$batchId")
      Dedup.probeBatch(spark, sfDir, batch)
        .write.mode("overwrite").parquet(s"$outDir/dups/batch_id=$batchId")
      graft.pipeline.TrainPrep.chunkDocsOf(batch)
        .write.mode("overwrite").parquet(s"$outDir/chunks/batch_id=$batchId")
      // the r13 cheap quality screens (byte entropy + alphabet width) are
      // per-doc map-only expressions, so the streaming twin IS the batch
      // operator applied to the micro-batch — no state, no watermark
      CorpusQc.entropyQualityOf(batch)
        .write.mode("overwrite").parquet(s"$outDir/screens/batch_id=$batchId")
      // r14: score every admitted document against the TRAINED classifier
      // artifact (model sums + training-corpus class sizes, both static
      // memos) — the serve-the-shipped-model stage; the micro-batch only
      // contributes features, never the model
      graft.pipeline.TextClassifier.scoreBatch(spark, sfDir, batch)
        .write.mode("overwrite").parquet(s"$outDir/model_scores/batch_id=$batchId")
    }

  def start(docStream: DataFrame, sfDir: String, outDir: String,
            checkpointDir: String, triggerInterval: String = "1 second"): StreamingQuery =
    BatchSink.start(docStream, "corpus_ingest", checkpointDir, triggerInterval)(
      batchWriter(docStream.sparkSession, sfDir, outDir))

  // ---- incremental dataset card ----

  /** Per-batch state writer for the INCREMENTAL dataset card — the
    * streaming twin of `corpus_dataset_card_kmv`: each micro-batch lands
    * its four sufficient-statistic partials ([[CorpusQc.cardVolPartial]] /
    * `cardFpPartial` / `cardFlagPartial` / `cardKmvPartial` — sums, mins,
    * and KMV sketches, all associative) under per-batch directories, then
    * refreshes `stateDir/card` with the merged card over everything
    * admitted so far. A curator reads the current card at any time; after
    * the last batch it equals the batch card over the whole ingested
    * corpus bit-for-bit (CorpusIngestSpec pins two-batch convergence).
    *
    * State per batch is source-grain (vol/flags/kmv: sources × langs rows,
    * K longs per sketch) plus the fingerprint-grain dup statistics — the
    * same persisted-index trade the band index makes, and the reason the
    * card can be exact instead of approximate. Idempotent replay: the
    * per-batch overwrite discipline of [[batchWriter]].
    */
  def cardStateWriter(spark: SparkSession, sfDir: String,
                      stateDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      CorpusQc.cardVolPartial(batch)
        .write.mode("overwrite").parquet(s"$stateDir/vol/batch_id=$batchId")
      CorpusQc.cardFpPartial(batch)
        .write.mode("overwrite").parquet(s"$stateDir/fp/batch_id=$batchId")
      CorpusQc.cardFlagPartial(batch, CorpusQc.benchShingles(spark, sfDir))
        .write.mode("overwrite").parquet(s"$stateDir/flags/batch_id=$batchId")
      CorpusQc.cardKmvPartial(batch)
        .write.mode("overwrite").parquet(s"$stateDir/kmv/batch_id=$batchId")
      cardFromState(spark, stateDir)
        .write.mode("overwrite").parquet(s"$stateDir/card")
    }

  /** The current card: merge every landed batch partial
    * ([[CorpusQc.cardFromPartials]] — associative legs, so batch
    * boundaries are invisible in the result).
    */
  def cardFromState(spark: SparkSession, stateDir: String): DataFrame = {
    def state(sub: String) = spark.read.parquet(s"$stateDir/$sub").drop("batch_id")
    CorpusQc.cardFromPartials(
      state("vol"), state("fp"), state("flags"), state("kmv"))
  }

  // ---- incremental quality percentile ----

  /** Per-batch state writer for the INCREMENTAL quality percentile — the
    * streaming twin of `text_quality_percentile` and the one corpus audit
    * that was batch-only until round 10 (r8 #8 directive). The per-doc
    * quality score is doc-local, so each micro-batch scores ONLY its own
    * documents once ([[graft.pipeline.TextAnalysis.qualityScoreOf]], the
    * identical expression the batch query runs) and lands the 2-column
    * (doc_id, quality_score) partial under a per-batch directory; the
    * readout then refreshes `stateDir/percentile` with the
    * [[graft.pipeline.TextAnalysis.qualityPercentileOf]] distributed
    * histogram-rank cut over everything admitted so far — no global
    * window, the same `histRankDesc` plan shape as the batch query, so
    * after the last batch the published table equals
    * `text_quality_percentile` over the same documents bit-for-bit
    * (CorpusIngestSpec pins two-batch convergence).
    *
    * State is doc-grain but 2 columns wide — the same persisted-state
    * trade the incremental card's fingerprint leg makes, and what makes
    * the percentile EXACT under re-ranking: a percentile is a property of
    * the whole admitted population, so any exact incremental variant must
    * retain per-doc scores; the scoring (the expensive text pass) is
    * never repeated. Idempotent replay: per-batch-directory overwrite.
    */
  def percentileStateWriter(spark: SparkSession,
                            stateDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      graft.pipeline.TextAnalysis.qualityScoreOf(batch)
        .select("doc_id", "quality_score")
        .write.mode("overwrite").parquet(s"$stateDir/scores/batch_id=$batchId")
      percentileFromState(spark, stateDir)
        .write.mode("overwrite").parquet(s"$stateDir/percentile")
    }

  /** The current percentile table: the shared distributed rank cut over
    * every landed score partial.
    */
  def percentileFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.pipeline.TextAnalysis.qualityPercentileOf(
      spark.read.parquet(s"$stateDir/scores").drop("batch_id"))

  // ---- streaming sitemap frontier ----

  /** Streaming sitemap coverage — the X122 audit serving the front door
    * the way robots rules do (the r15 wire-in's sibling): the
    * site-declared URL inventory parses ONCE on the static side
    * ([[graft.pipeline.Sitemaps.parseSitemaps]] — sitemap payloads are
    * domain-grain, the parsed URL set is page-grain) and the page stream
    * LEFT-joins it on the url equi-key per micro-batch, so every fetched
    * page carries its `listed` flag with no streaming state. At 100 TB
    * the static side partitions by url once; each batch shuffles only
    * its own rows into the join — never a broadcast of a corpus-scale
    * inventory.
    */
  def sitemapMarkedStream(docStream: DataFrame, inventory: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val listed = inventory.select(col("url")).distinct()
      .withColumn("listed", lit(true))
    docStream.withColumn("url", col("source"))
      .join(listed, Seq("url"), "left")
      .withColumn("listed", coalesce(col("listed"), lit(false)))
      .drop("url")
  }

  /** Per-batch state writer for the FETCH FRONTIER — listed-not-yet-
    * fetched, the crawl's next wave. The frontier is a property of the
    * stream's LIFETIME fetch set, so it lives in the state-dir pattern
    * ([[cardStateWriter]]): each batch lands its fetched-url partial
    * idempotently (per-batch-directory overwrite), then refreshes
    * `stateDir/frontier` (inventory ANTI fetched-so-far) and
    * `stateDir/coverage` (per-domain listed / fetched-listed / frontier
    * counts). After the last batch both equal the batch audit over the
    * same pages (CorpusIngestSpec pins two-wave convergence and replay
    * idempotence). State per batch is url-grain but 1 column wide — the
    * persisted-state trade the incremental card's fingerprint leg makes.
    */
  def frontierStateWriter(spark: SparkSession, inventory: DataFrame,
                          stateDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      batch.select(org.apache.spark.sql.functions.col("source").as("url")).distinct()
        .write.mode("overwrite").parquet(s"$stateDir/fetched/batch_id=$batchId")
      frontierFromState(spark, stateDir, inventory)
        .write.mode("overwrite").parquet(s"$stateDir/frontier")
      coverageFromState(spark, stateDir, inventory)
        .write.mode("overwrite").parquet(s"$stateDir/coverage")
    }

  /** The current frontier: every listed URL no batch has fetched yet —
    * a url-keyed anti-join, both sides honestly page-grain.
    */
  def frontierFromState(spark: SparkSession, stateDir: String,
                        inventory: DataFrame): DataFrame =
    inventory.select("regdom", "url").distinct()
      .join(spark.read.parquet(s"$stateDir/fetched").drop("batch_id"),
        Seq("url"), "left_anti")

  /** The current per-domain coverage: listed / fetched-listed / frontier
    * counts over everything fetched so far.
    */
  def coverageFromState(spark: SparkSession, stateDir: String,
                        inventory: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val listed = inventory.select("regdom", "url").distinct()
    val fetched = spark.read.parquet(s"$stateDir/fetched")
      .drop("batch_id").distinct().withColumn("fetched", lit(true))
    listed.join(fetched, Seq("url"), "left")
      .groupBy("regdom")
      .agg(count(lit(1)).as("n_listed"),
        count(col("fetched")).as("n_fetched_listed"))
      .withColumn("n_frontier", col("n_listed") - col("n_fetched_listed"))
  }

  def startSitemapFrontier(docStream: DataFrame, inventory: DataFrame,
                           stateDir: String, checkpointDir: String,
                           triggerInterval: String = "1 second"): StreamingQuery =
    BatchSink.start(docStream, "corpus_ingest_sitemap_frontier", checkpointDir, triggerInterval)(
      frontierStateWriter(docStream.sparkSession, inventory, stateDir))

  def startPercentile(docStream: DataFrame, stateDir: String,
                      checkpointDir: String,
                      triggerInterval: String = "1 second"): StreamingQuery =
    BatchSink.start(docStream, "corpus_ingest_percentile", checkpointDir, triggerInterval)(
      percentileStateWriter(docStream.sparkSession, stateDir))

  def startCard(docStream: DataFrame, sfDir: String, stateDir: String,
                checkpointDir: String,
                triggerInterval: String = "1 second"): StreamingQuery =
    BatchSink.start(docStream, "corpus_ingest_card", checkpointDir, triggerInterval)(
      cardStateWriter(docStream.sparkSession, sfDir, stateDir))
}
