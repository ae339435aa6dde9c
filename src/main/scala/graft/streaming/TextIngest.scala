package graft.streaming

import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{IndexMaintenance, TextAnalysis}

/** Streaming LEXICAL-index ingest — the postings twin of [[AnnIngest]]:
  * document batches land as files and each micro-batch is tokenized
  * once and folded into the persisted text index (postings + doc-values
  * appends), so lexical search serves a continuously-growing corpus
  * with no rebuild and no re-read of standing documents. This completes
  * the ingest-loop family: every persisted index this engine serves
  * from (signature, LSH bucket, IVF list, posting) now grows by the
  * same marker-guarded, cadence-compacted append loop.
  *
  * The statistics semantic mirrors the ANN twins' train/serve
  * divergence, but with the lexical engine's own staleness model:
  * per-term df is current (each append commits its query-term posting
  * rows as a log fact, which serves sum —
  * [[graft.ops.TextAnalysis.queryTermDf]]), while the 1-row
  * n_docs/avgdl stats stay FROZEN at their
  * last rebuild until a compaction recomputes them — Lucene's segment
  * model (commits don't re-estimate global stats; merges do). The
  * registered replay keeps the grown index UNcompacted, so its oracle
  * restates exactly that split: df and ranking over the full corpus,
  * n_docs/avgdl over the seed slice.
  *
  * Retries ride the index log: each batch's rows commit together with
  * its batch mark ([[IndexMaintenance.append]]), so a retried batch
  * either finds its mark and lands nothing or was never visible. The
  * compaction cadence runs the (term, doc_id)
  * uniqueness invariant before each compact — a doc indexed by two
  * DIFFERENT batches is an upstream id-assignment bug surfaced loudly,
  * not silently double-scored.
  */
object TextIngest {

  /** Drive the landing stream: one document file per micro-batch,
    * oldest first, each folded into the persisted text index at
    * `indexDir` (seeded by [[TextAnalysis.textIndexWrite]] over the
    * standing corpus). Every [[IngestDedup.ingestCompactEvery]]-th
    * batch checks the uniqueness invariant and compacts — which is
    * also where n_docs/avgdl catch up with the appended documents. */
  def streamTextIngestToFiles(s: SparkSession, landingDir: String, indexDir: String,
      checkpointDir: String): Unit = {
    val lineage = IndexMaintenance.lineageTag(checkpointDir)
    IngestDedup.runLandingStream(s, landingDir, checkpointDir,
      IngestDedup.alarmCadence(s, Seq(indexDir)) {
        IndexMaintenance.checkUnique(s, indexDir, "postings", Seq("term", "doc_id"), "doc_id")
        TextAnalysis.textIndexCompact(s, indexDir)
      }) { (batch, batchId) =>
      // both tables and the batch mark commit as one log version: a
      // retry after that commit finds the mark and lands nothing
      TextAnalysis.textIndexAppendBatch(s, batch, indexDir, mark = Some(lineage -> batchId))
    }
  }

  /** Registered-query replay: seed the index from the modulo-0 slice
    * (the "standing corpus" whose n_docs/avgdl the stats table holds),
    * stream the remaining slices in as landing files, then run the
    * fixed BM25 query against the GROWN, uncompacted index — every
    * document is a ranking candidate with current df, scored under the
    * seed-frozen global stats. Fresh temp dirs per invocation. */
  def streamTextIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(s, dir, "documents")
    val (root, landing) = IngestDedup.stageLanding(s, s"$dir|docs-tail", docs,
        batches = 1 until IngestDedup.ingestBatches) { root =>
      // seed index byte-copied from the per-(JVM, corpus) prototype —
      // a pure function of the corpus's modulo-0 slice, so each replay
      // pays one local copy instead of a fresh seed-index build; the
      // STREAM then grows the copy (see IngestDedup.prototype)
      val proto = IngestDedup.prototype(s, s"$dir|textingest-seed") { p =>
        docs.filter(pmod(col("doc_id"), lit(IngestDedup.ingestBatches.toLong)) === 0)
          .write.mode("overwrite").parquet(s"$p/seed/documents.parquet")
        TextAnalysis.textIndexWrite(s, s"$p/seed", s"$p/index")
      }
      IngestDedup.copyDir(s, s"$proto/index", s"$root/index")
    }
    streamTextIngestToFiles(s, landing, s"$root/index", s"$root/checkpoint")
    TextAnalysis.textBm25Served(s, s"$root/index")
  }

  /** TOKEN LEDGER AT ADMISSION — the dataset-budget dashboard number,
    * kept current while data streams in: each landed batch is encoded
    * under the FROZEN shipped tokenizer (a [[TextAnalysis.bpeModelWrite]]
    * artifact trained on the standing corpus at deployment — streaming
    * data never retrains the tokenizer, exactly like production) and
    * appends its per-source `(source, n_docs, n_tokens)` rows to the
    * ledger's [[ledgerTable]]. Per-trigger cost is batch-sized: the
    * merge apply runs over the BATCH's distinct words, the artifact is
    * one bounded driver read at stream start, and nothing standing is
    * re-read. The ledger is an index-log directory: each batch's rows
    * commit together with its batch mark ([[IndexMaintenance.append]]),
    * so an at-least-once retry finds its mark and lands nothing, also
    * after a rollup. Counting batch-by-batch under frozen merges sums to
    * exactly one whole-corpus encode ([[TextAnalysis.bpeSourceCounts]]'s
    * contract). The shared alarm cadence rolls the ledger up
    * ([[ledgerRollup]]) every [[IngestDedup.ingestCompactEvery]]-th
    * trigger, or sooner when its appended batches pass that floor, so
    * the table's file count stays bounded by the cadence. */
  def streamTokenLedgerToFiles(s: SparkSession, landingDir: String, modelDir: String,
      ledgerDir: String, checkpointDir: String): Unit = {
    val merges = TextAnalysis.bpeModelMerges(s, modelDir)
    // counting must use the semantics the model was TRAINED under
    val applyForm = TextAnalysis.bpeModelApplyForm(s, modelDir)
    val lineage = IndexMaintenance.lineageTag(checkpointDir)
    IngestDedup.runLandingStream(s, landingDir, checkpointDir,
      IngestDedup.alarmCadence(s, Seq(ledgerDir))(ledgerRollup(s, ledgerDir))) { (batch, batchId) =>
      IndexMaintenance.labeledJob(s, s"token-ledger b$batchId: counts") {
        IndexMaintenance.append(s, ledgerDir,
          Seq(ledgerTable -> TextAnalysis.bpeSourceCounts(batch, merges, applyForm).coalesce(1)),
          mark = Some(lineage -> batchId))
      }
    }
  }

  /** The ledger's one table: per-source `(source, n_docs, n_tokens)`
    * rows, one file per seed, batch or rollup commit. */
  private[graft] val ledgerTable = "counts"

  private def sumBySource(rows: DataFrame): DataFrame =
    rows.groupBy(col("source"))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
      .orderBy(col("source"))

  /** A totals read re-reads at most this many times when a newer commit
    * removed a file mid-read. */
  private val ledgerReadAttempts = 10

  /** Per-source totals of the ledger as of its current snapshot,
    * MATERIALIZED (one bounded row per source), never a lazy scan of
    * files a rollup may delete. Readers take no lock: a rollup that
    * commits mid-read deletes the files it replaced, so a read whose
    * snapshot lost a file to a newer commit is re-read from the new
    * snapshot, a bounded number of times. A committed file missing with
    * no newer commit is damage and fails loudly, as does a directory
    * with no ledger table (never seeded, or the wrong dir). */
  private[graft] def ledgerTotals(s: SparkSession, ledgerDir: String): DataFrame = {
    def attempt(n: Int): DataFrame = {
      val snap = IndexMaintenance.snapshot(s, ledgerDir)
      require(snap.hasTable(ledgerTable),
        s"token ledger at $ledgerDir has no '$ledgerTable' table — not seeded, or the wrong dir")
      val agg = sumBySource(snap.read(s, ledgerTable))
      def lostFileToNewerCommit: Boolean = {
        val f = snap.root.getFileSystem(s.sparkContext.hadoopConfiguration)
        IndexMaintenance.snapshot(s, ledgerDir).generation != snap.generation &&
          snap.filesOf(ledgerTable).exists(d => !f.exists(new Path(snap.root, d.path)))
      }
      try s.createDataFrame(java.util.Arrays.asList(agg.collect(): _*), agg.schema)
      catch {
        case NonFatal(_) if n < ledgerReadAttempts && lostFileToNewerCommit => attempt(n + 1)
      }
    }
    attempt(1)
  }

  /** The rollup as a change on `snap`: [[ledgerTable]] replaced by its
    * per-source aggregate, and the totals plus the covered batch mark
    * restated as `counts.*` props in the same commit, which steady-state
    * [[ledgerHealth]] serves from. Derived from the snapshot the commit
    * reads, so a rollup or append that commits first makes this one fail
    * loudly with the table untouched. */
  private[graft] def ledgerRollupChange(s: SparkSession,
      snap: IndexMaintenance.Snapshot): IndexMaintenance.Change = {
    val agg = sumBySource(snap.read(s, ledgerTable))
    val rows = agg.collect()
    IndexMaintenance.Change(
      replace = Seq(ledgerTable ->
        s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema).coalesce(1)),
      props = Map(
        s"$ledgerTable.n_sources" -> rows.length.toString,
        s"$ledgerTable.n_docs" -> rows.map(_.getLong(1)).sum.toString,
        s"$ledgerTable.n_tokens" -> rows.map(_.getLong(2)).sum.toString,
        s"$ledgerTable.rollup_hwm" -> snap.batches.values.maxOption.getOrElse(-1L).toString))
  }

  /** Roll the ledger up to one file — the small-files answer: without
    * it a long-running stream lands one file per trigger forever. One
    * commit covers the seed, any earlier rollup and every committed
    * batch; a redelivered batch it covered finds its mark and lands
    * nothing. Like every rewrite, it then deletes uncommitted files
    * older than the orphan retention. */
  private[graft] def ledgerRollup(s: SparkSession, ledgerDir: String): Unit =
    IndexMaintenance.labeledJob(s, "token-ledger: rollup") {
      IndexMaintenance.transact(s, ledgerDir)(ledgerRollupChange(s, _))
    }

  /** Registered-query replay: train + persist the tokenizer on the
    * modulo-0 seed slice (the deployment moment — the model the stream
    * serves is FROZEN at these merges), stamp the seed's own ledger
    * rows, stream the remaining slices through the ledger loop, then
    * report per-source totals over seed + streamed batches. The oracle
    * restates the split: merges trained on the seed slice ONLY
    * (`bpeChainCtesSqlWhere`), applied to the FULL corpus
    * (`bpeForeignApplyCtesSql`), grouped by source. */
  def streamTokenLedger(s: SparkSession, dir: String): DataFrame =
    ledgerTotals(s, s"${ledgerReplay(s, dir)}/ledger")

  /** The shared replay body: seed model + seed rows, stream the
    * remaining slices through the ledger loop, return the temp root
    * (`$root/ledger` is the ledger, `$root/model` the frozen model). */
  private def ledgerReplay(s: SparkSession, dir: String): String = {
    val docs = graft.Tables(s, dir, "documents")
    // the frozen tokenizer is the DEPLOYMENT artifact the stream serves
    // (trained once on the standing corpus — this scaladoc's own
    // contract): train it once per (JVM, corpus) and let every replay
    // reference it read-only, so bench reps measure the LEDGER LOOP,
    // not repeated model training (IngestDedup.prototype; the
    // bpeModelFor precedent). The model dir is never mutated by the
    // stream, so no copy is needed.
    val proto = IngestDedup.prototype(s, s"$dir|ledger-seed-model") { p =>
      docs.filter(pmod(col("doc_id"), lit(IngestDedup.ingestBatches.toLong)) === 0)
        .write.mode("overwrite").parquet(s"$p/seed/documents.parquet")
      TextAnalysis.bpeModelWrite(s, s"$p/seed", s"$p/model")
    }
    val (root, landing) = IngestDedup.stageLanding(s, s"$dir|docs-tail", docs,
        batches = 1 until IngestDedup.ingestBatches) { root =>
      // the seed rows count under the SAME recorded apply form as every
      // streamed batch — splitting the rule across the two halves would
      // let ledgerTotals sum token counts computed under two different
      // tokenizer semantics
      IndexMaintenance.labeledJob(s, "token-ledger: seed counts") {
        IndexMaintenance.replace(s, s"$root/ledger", Seq(ledgerTable ->
          TextAnalysis.bpeSourceCounts(
              s.read.parquet(s"$proto/seed/documents.parquet"),
              TextAnalysis.bpeModelMerges(s, s"$proto/model"),
              TextAnalysis.bpeModelApplyForm(s, s"$proto/model"))
            .coalesce(1)))
      }
    }
    streamTokenLedgerToFiles(s, landing, s"$proto/model",
      s"$root/ledger", s"$root/checkpoint")
    root
  }

  /** The ledger's maintenance debt from its snapshot and one listing of
    * its table, no Spark job: (appended batch commits no rollup has
    * absorbed, uncommitted files older than the orphan retention). The
    * first should stay under the cadence floor; the second is what a
    * crashed writer left, and exactly what the next rollup deletes — a
    * live writer's younger staged file is not debt. */
  private[graft] def ledgerDebt(s: SparkSession, snap: IndexMaintenance.Snapshot): (Int, Int) =
    (snap.appendedBatches(ledgerTable), IndexMaintenance.orphans(s, snap, ledgerTable).size)

  /** LEDGER HEALTH — the operational report of the token-ledger
    * artifact, mirroring [[TextAnalysis.textIndexHealth]]'s shape (one
    * (metric, value) row each, metric-sorted): `live_parts` (commits
    * whose files a totals read scans), `unrolled_batches` (batch
    * commits no rollup has absorbed — the ROLLUP LAG a deployment pages
    * on), `rollup_hwm` (the last rollup's covered batch mark, −1 before
    * the first rollup), `covered_garbage` (uncommitted files past the
    * orphan retention, which the next rollup deletes), `n_sources` /
    * `n_docs_total` / `n_tokens_total` (the dashboard totals
    * themselves). In the steady state — nothing appended since the last
    * rollup — the totals are the rollup's props and the whole report
    * runs ZERO Spark jobs; otherwise they ride [[ledgerTotals]]. */
  private[graft] def ledgerHealth(s: SparkSession, ledgerDir: String): DataFrame = {
    import s.implicits._
    val snap = IndexMaintenance.snapshot(s, ledgerDir)
    val (unrolled, garbage) = ledgerDebt(s, snap)
    def prop(k: String) = snap.props.get(s"$ledgerTable.$k")
    val (nSources, nDocs, nTokens) =
      (prop("n_sources"), prop("n_docs"), prop("n_tokens")) match {
        case (Some(n), Some(d), Some(t)) if unrolled == 0 => (n.toLong, d.toLong, t.toLong)
        case _ =>
          val rows = ledgerTotals(s, ledgerDir).collect()
          (rows.length.toLong, rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
      }
    // a local relation in metric order: its collect runs no Spark job
    Seq(
      ("covered_garbage", garbage.toDouble),
      ("live_parts", snap.filesOf(ledgerTable).map(_.seq).distinct.size.toDouble),
      ("n_docs_total", nDocs.toDouble),
      ("n_sources", nSources.toDouble),
      ("n_tokens_total", nTokens.toDouble),
      ("rollup_hwm", prop("rollup_hwm").fold(-1.0)(_.toDouble)),
      ("unrolled_batches", unrolled.toDouble)).toDF("metric", "value")
  }

  /** One replayed ledger per (JVM, corpus) for the health query, a
    * standing [[graft.ops.Artifacts]] temp dir — the
    * [[TextAnalysis.textIndexFor]] pattern: the health report reads
    * state, it should not pay a fresh stream replay per call (bench
    * reps measure the REPORT, not the replay). */
  private[graft] def ledgerFor(s: SparkSession, dir: String): String =
    graft.ops.Artifacts.tempDir(s"ledger|$dir")(ledgerReplay(s, dir))

  /** Registered-query form of [[ledgerHealth]] over the memoized
    * replayed ledger. The replay's final state is DETERMINISTIC (fixed
    * batch count, cadence constants, and alarm thresholds), so every
    * metric is oracle-able: the totals restate through the same
    * train-on-seed / apply-to-all SQL chain as `stream_token_ledger`,
    * and the layout metrics are literals derived from the SAME Scala
    * constants the replay runs under — a cadence change breaks the
    * gate loudly instead of silently re-shaping the artifact. */
  def streamLedgerHealth(s: SparkSession, dir: String): DataFrame =
    ledgerHealth(s, s"${ledgerFor(s, dir)}/ledger")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_text_ingest" -> streamTextIngest _,
    "stream_token_ledger" -> streamTokenLedger _,
    "stream_ledger_health" -> streamLedgerHealth _
  )

  /** The health oracle's layout-metric literals, derived from the
    * SAME constants the replay runs under. The registered replay
    * streams `ingestBatches − 1` batches, and with that count under
    * the cadence floor neither the floor nor the appended-batch debt
    * alarm ever fires — so the final state is exactly the seed commit
    * plus one commit per batch, no rollup, no garbage. The require is
    * the drift alarm: if the cadence constants ever change enough that
    * a rollup fires inside the replay, this fails at registration time
    * instead of the gate silently comparing against stale literals. */
  private def ledgerHealthOracleSql: String = {
    val streamed = IngestDedup.ingestBatches - 1
    require(streamed < IngestDedup.ingestCompactEvery,
      "stream_ledger_health oracle literals assume the registered replay " +
      "never rolls up (streamed batches under the cadence floor) — " +
      "recompute the literals if the cadence constants change")
    s"""WITH ${TextAnalysis.bpeChainCtesSqlWhere(
             s"doc_id % ${IngestDedup.ingestBatches} = 0")},
       |${TextAnalysis.bpeForeignApplyCtesSql},
       |enc AS (
       |  SELECT replace(w, ' ', '') AS word,
       |         CAST(len(string_split(w, ' ')) AS BIGINT) AS n_syms
       |  FROM f${TextAnalysis.bpeTrainMerges}),
       |tok AS (SELECT doc_id, unnest(${graft.functions.TextFns.duckTokSql}) AS word
       |        FROM documents),
       |dagg AS (
       |  SELECT t.doc_id, CAST(sum(e.n_syms) AS BIGINT) AS n_tokens
       |  FROM tok t JOIN enc e ON t.word = e.word
       |  GROUP BY t.doc_id),
       |tot AS (
       |  SELECT CAST(count(DISTINCT d.source) AS DOUBLE) AS n_sources,
       |         CAST(count(*) AS DOUBLE) AS n_docs_total,
       |         CAST(coalesce(sum(a.n_tokens), 0) AS DOUBLE) AS n_tokens_total
       |  FROM documents d LEFT JOIN dagg a ON d.doc_id = a.doc_id),
       |m AS (
       |  SELECT 'covered_garbage' AS metric, 0.0 AS value
       |  UNION ALL SELECT 'live_parts', ${(streamed + 1).toDouble}
       |  UNION ALL SELECT 'n_docs_total', (SELECT n_docs_total FROM tot)
       |  UNION ALL SELECT 'n_sources', (SELECT n_sources FROM tot)
       |  UNION ALL SELECT 'n_tokens_total', (SELECT n_tokens_total FROM tot)
       |  UNION ALL SELECT 'rollup_hwm', -1.0
       |  UNION ALL SELECT 'unrolled_batches', ${streamed.toDouble})
       |SELECT metric, round(value, 6) AS value FROM m ORDER BY metric""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // listing metrics are literals from the replay's own cadence
    // constants (drift-guarded); totals restate the train-on-seed /
    // apply-to-all chain
    "stream_ledger_health" -> ledgerHealthOracleSql,
    // df + ranking over the grown (full) corpus; n_docs/avgdl frozen
    // at the seed build — the uncompacted-append staleness semantic
    "stream_text_ingest" -> TextAnalysis.bm25OracleSqlSeedStats(
      s"doc_id % ${IngestDedup.ingestBatches} = 0"),
    // merges trained on the seed slice only, applied to the full corpus
    // (the foreign-vocabulary apply chain), per-source totals
    "stream_token_ledger" ->
      s"""WITH ${TextAnalysis.bpeChainCtesSqlWhere(
               s"doc_id % ${IngestDedup.ingestBatches} = 0")},
         |${TextAnalysis.bpeForeignApplyCtesSql},
         |enc AS (
         |  SELECT replace(w, ' ', '') AS word,
         |         CAST(len(string_split(w, ' ')) AS BIGINT) AS n_syms
         |  FROM f${TextAnalysis.bpeTrainMerges}),
         |tok AS (SELECT doc_id, unnest(${graft.functions.TextFns.duckTokSql}) AS word
         |        FROM documents),
         |dagg AS (
         |  SELECT t.doc_id, CAST(sum(e.n_syms) AS BIGINT) AS n_tokens
         |  FROM tok t JOIN enc e ON t.word = e.word
         |  GROUP BY t.doc_id)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(a.n_tokens), 0) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN dagg a ON d.doc_id = a.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin
  )
}
