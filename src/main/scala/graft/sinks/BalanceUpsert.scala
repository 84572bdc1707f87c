package graft.sinks

import java.math.{BigDecimal => JBigDecimal}
import java.sql.Connection

import org.apache.spark.sql.Row

/** The balance upsert sink (SURVEY.md §2 #15).
  *
  * The reference pushes its KTable changelog through a Kafka Connect JDBC sink
  * configured `insert.mode=UPSERT, pk.fields=account` (reference:
  * README.md:273-297) — the running fold lives in Kafka Streams state and
  * Postgres receives absolute balances. The Spark-idiomatic equivalent keeps
  * the running state in the idempotent sink itself: each micro-batch emits
  * per-account *deltas* (sum) plus that batch's argmax provenance, and the
  * upsert merges them — `balance = balance + EXCLUDED.balance`, provenance
  * replaced only when the incoming event is newer. Merging is commutative and
  * associative across batches, so retries of an uncommitted batch after
  * failure are the only duplication risk (same as the reference's
  * at-least-once + idempotent-upsert story). The exactly-once upgrade —
  * transactional batch-id journaling — is implemented at
  * [[upsertBatchExactlyOnce]] / [[journalDdl]] and executed end-to-end
  * against DuckDB in `BalanceUpsertDuckDbSpec`.
  */
object BalanceUpsert {

  /** One balance row (delta or absolute, depending on context). */
  final case class BalanceRow(
      account: String,
      balance: JBigDecimal,
      blockTimestamp: JBigDecimal,
      blockHash: String,
      chunkHash: String,
      indexInChunk: Int,
      transactionHash: String,
      receiptId: String)

  object BalanceRow {
    /** From a `TokenPipeline.balances` output row (column order fixed there). */
    def fromRow(r: Row): BalanceRow = BalanceRow(
      r.getAs[String]("account"),
      r.getAs[JBigDecimal]("balance"),
      r.getAs[JBigDecimal]("block_timestamp"),
      r.getAs[String]("block_hash"),
      r.getAs[String]("chunk_hash"),
      r.getAs[Int]("index_in_chunk"),
      r.getAs[String]("transaction_hash"),
      r.getAs[String]("receipt_id"))
  }

  /** Provenance ordering: (block_timestamp, index_in_chunk, receipt_id) —
    * the reference's comparison (TokenBalance.java:300-306) plus the
    * deterministic receipt_id tiebreaker used throughout this repo.
    */
  def newer(a: BalanceRow, b: BalanceRow): Boolean = {
    val byTs = a.blockTimestamp.compareTo(b.blockTimestamp)
    if (byTs != 0) byTs > 0
    else if (a.indexInChunk != b.indexInChunk) a.indexInChunk > b.indexInChunk
    else a.receiptId.compareTo(b.receiptId) > 0
  }

  /** Merge an incoming delta into the stored row: sum balances, keep the
    * provenance of the newer event. Commutative + associative.
    */
  def merge(stored: BalanceRow, delta: BalanceRow): BalanceRow = {
    val prov = if (newer(delta, stored)) delta else stored
    prov.copy(balance = stored.balance.add(delta.balance))
  }

  /** The PostgreSQL upsert statement implementing [[merge]] server-side
    * (positional parameters in [[columns]] order).
    */
  val columns: Seq[String] = Seq("account", "balance", "block_timestamp",
    "block_hash", "chunk_hash", "index_in_chunk", "transaction_hash", "receipt_id")

  def upsertSql(table: String): String = {
    val provCols = columns.drop(2)
    val newerPred =
      s"""(EXCLUDED.block_timestamp, EXCLUDED.index_in_chunk, EXCLUDED.receipt_id)
          > ($table.block_timestamp, $table.index_in_chunk, $table.receipt_id)"""
    val provSet = provCols.map(c =>
      s"$c = CASE WHEN $newerPred THEN EXCLUDED.$c ELSE $table.$c END")
    s"""INSERT INTO $table (${columns.mkString(", ")})
        VALUES (${columns.map(_ => "?").mkString(", ")})
        ON CONFLICT (account) DO UPDATE SET
          balance = $table.balance + EXCLUDED.balance,
          ${provSet.mkString(",\n          ")}"""
  }

  /** Bind one [[BalanceRow]] into the [[upsertSql]] positional slots
    * ([[columns]] order) — the ONE binding both exactly-once executors share.
    */
  private def bindRow(st: java.sql.PreparedStatement, b: BalanceRow): Unit = {
    st.setString(1, b.account)
    st.setBigDecimal(2, b.balance)
    st.setBigDecimal(3, b.blockTimestamp)
    st.setString(4, b.blockHash)
    st.setString(5, b.chunkHash)
    st.setInt(6, b.indexInChunk)
    st.setString(7, b.transactionHash)
    st.setString(8, b.receiptId)
  }

  /** EXACTLY-ONCE upgrade of the at-least-once upsert story (the gap the
    * object scaladoc documents): the duplication risk is a micro-batch whose
    * upserts committed but whose CHECKPOINT commit did not — on restart the
    * engine redelivers the same `batchId` and the additive
    * `balance += EXCLUDED.balance` merge double-applies it. The classical
    * fix is transactional batch-id journaling: claim `(sink_id, batch_id)`
    * in a journal table INSIDE the same database transaction as the
    * upserts, so either both commit or neither, and a redelivered batch
    * fails the claim and is skipped whole. `batchId` is Structured
    * Streaming's `foreachBatch` batch id — stable across restarts for a
    * redelivered batch by the checkpoint contract, which is exactly what
    * makes the claim key sound. Batch ids are only meaningful RELATIVE TO a
    * checkpoint (a fresh checkpoint restarts them at 0), so `sink_id` must
    * rotate with the checkpoint or stale claims silently skip every new
    * batch — `StreamingPipeline.balancesToJdbcExactlyOnce` therefore keys
    * claims on `"$sinkId@$checkpointDir"`. (The reference's deployed path
    * lives with at-least-once + idempotent provenance, README.md:273-297;
    * balances are additive, so it needs this journal for true exactness
    * too.)
    */
  def journalDdl(journal: String): String =
    s"""CREATE TABLE IF NOT EXISTS $journal (
        sink_id VARCHAR, batch_id BIGINT, n_rows BIGINT,
        PRIMARY KEY (sink_id, batch_id))"""

  /** The claim statement: 1 row changed = this batch is ours to apply, 0 =
    * already applied by a previous (possibly crashed-after-commit) attempt.
    */
  def journalClaimSql(journal: String): String =
    s"""INSERT INTO $journal (sink_id, batch_id, n_rows) VALUES (?, ?, ?)
        ON CONFLICT (sink_id, batch_id) DO NOTHING"""

  /** The claim-then-apply transaction shared by the batch-level and
    * slice-level exactly-once executors: bind + run the claim, and on a
    * fresh claim run every upsert, all in ONE transaction on `conn`.
    * Statements are closed per call (pooled-connection callers would
    * otherwise leak a handle per micro-batch). Returns true if applied,
    * false if the journal already contained the claim (redelivery —
    * skipped whole, nothing written).
    */
  private def applyClaimed(rows: Iterable[BalanceRow], table: String,
                           claimSql: String,
                           bindClaim: java.sql.PreparedStatement => Unit,
                           conn: Connection): Boolean = {
    val prevAutoCommit = conn.getAutoCommit
    conn.setAutoCommit(false)
    try {
      val claim = conn.prepareStatement(claimSql)
      val claimed =
        try { bindClaim(claim); claim.executeUpdate() == 1 }
        finally claim.close()
      if (!claimed) { conn.rollback(); false }
      else {
        val st = conn.prepareStatement(upsertSql(table))
        try {
          rows.foreach { b => bindRow(st, b); st.addBatch() }
          st.executeBatch()
        } finally st.close()
        conn.commit()
        true
      }
    } catch {
      case e: Throwable =>
        // a broken connection throws again on rollback — suppress, never
        // REPLACE, the root-cause exception (the realistic failure is the
        // connection dying mid executeBatch; the caller must see that one)
        try conn.rollback()
        catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    } finally {
      // restore for pooled-connection callers (close-per-batch callers
      // don't care, but this method is public surface)
      try conn.setAutoCommit(prevAutoCommit)
      catch { case _: Throwable => () }
    }
  }

  /** Apply one micro-batch of deltas exactly once: claim the batch id and
    * run every upsert in ONE transaction on `conn`; returns true if applied,
    * false if the journal already contained the claim (redelivery — skipped
    * whole, nothing written). Driver-side single-connection executor — the
    * per-batch delta set is O(#accounts touched), already aggregated; the
    * PARTITION-PARALLEL realization (no driver collect, the 100 TB path) is
    * [[upsertSliceExactlyOnce]] under per-(sink, batch, slice) claims.
    */
  def upsertBatchExactlyOnce(rows: Iterable[BalanceRow], table: String,
                             journal: String, sinkId: String, batchId: Long,
                             conn: Connection): Boolean =
    applyClaimed(rows, table, journalClaimSql(journal), { claim =>
      claim.setString(1, sinkId)
      claim.setLong(2, batchId)
      claim.setLong(3, rows.size.toLong)
    }, conn)

  /** Journal DDL for the PARTITION-PARALLEL exactly-once protocol: the claim
    * key grows a `slice_id` so each slice of a micro-batch commits (or skips
    * on redelivery) independently in its own transaction. A slice is a
    * DATA-derived shard — `pmod(hash(account), n)` — never a physical
    * partition id: the same account lands in the same slice on every
    * (re)delivery and every task retry, which is what makes the 3-part key
    * sound (the TaskContext-pairing hazard recorded in CLAUDE.md never
    * arises because no scheduling-dependent id enters the key).
    */
  def sliceJournalDdl(journal: String): String =
    s"""CREATE TABLE IF NOT EXISTS $journal (
        sink_id VARCHAR, batch_id BIGINT, slice_id INTEGER, n_rows BIGINT,
        PRIMARY KEY (sink_id, batch_id, slice_id))"""

  /** The slice claim: 1 row changed = this (batch, slice) is ours to apply,
    * 0 = a previous (possibly crashed-after-commit) attempt already did.
    */
  def sliceClaimSql(journal: String): String =
    s"""INSERT INTO $journal (sink_id, batch_id, slice_id, n_rows)
        VALUES (?, ?, ?, ?)
        ON CONFLICT (sink_id, batch_id, slice_id) DO NOTHING"""

  /** Apply ONE SLICE of a micro-batch exactly once — the partition-parallel
    * scale path of [[upsertBatchExactlyOnce]] (run from `foreachPartition`
    * over a deterministic slice repartition; see
    * `StreamingPipeline.balancesToJdbcExactlyOnce`). Per-slice transactions
    * make partial batch failures safe: if the task for slice 3 dies after
    * slices 1–2 committed, the engine redelivers the whole batch and only
    * the unclaimed slices apply — the additive merge never sees a delta
    * twice. Throughput scales with the number of slices (each partition
    * holds its own connection), which is exactly what the driver-side
    * single-connection form cannot do at 100× key cardinality.
    */
  def upsertSliceExactlyOnce(rows: Iterable[BalanceRow], table: String,
                             journal: String, sinkId: String, batchId: Long,
                             sliceId: Int, conn: Connection): Boolean =
    applyClaimed(rows, table, sliceClaimSql(journal), { claim =>
      claim.setString(1, sinkId)
      claim.setLong(2, batchId)
      claim.setInt(3, sliceId)
      claim.setLong(4, rows.size.toLong)
    }, conn)

  /** Journal retention — the journal otherwise grows one row per batch (or
    * per slice) FOREVER. Deleting old claims is safe because Structured
    * Streaming can only redeliver the batch whose checkpoint commit is
    * still pending: once the sink is applying batch B, every batch ≤ B−1
    * has its offsets durably committed and can never be delivered again
    * under this checkpoint (and a WIPED checkpoint rotates the sink_id —
    * the `$sinkId@$checkpointDir` key — so its fresh claims never meet the
    * old rows either way). Works against both journal shapes (the
    * predicate touches only the shared key prefix).
    */
  def journalGcSql(journal: String): String =
    s"DELETE FROM $journal WHERE sink_id = ? AND batch_id <= ?"

  /** Delete this sink's claims for batches ≤ `upToBatchId`; returns the
    * number of claims removed. Call with `currentBatchId − 2` (one batch of
    * margin beyond the contract) once the current batch's work committed.
    */
  def gcJournal(conn: Connection, journal: String, sinkId: String,
                upToBatchId: Long): Int = {
    val st = conn.prepareStatement(journalGcSql(journal))
    try {
      st.setString(1, sinkId)
      st.setLong(2, upToBatchId)
      st.executeUpdate()
    } finally st.close()
  }

  /** In-memory exactly-once twin of [[upsertBatchExactlyOnce]]: same
    * claim-then-apply protocol over a [[MemoryStore]], for streaming tests
    * and local runs. Returns whether the batch was applied.
    */
  final class JournaledStore(val inner: MemoryStore = new MemoryStore) {
    private val journal = scala.collection.mutable.HashSet.empty[(String, Long)]
    private val sliceJournal =
      scala.collection.mutable.HashSet.empty[(String, Long, Int)]
    def applyBatch(sinkId: String, batchId: Long,
                   rows: Iterable[BalanceRow]): Boolean = synchronized {
      // claim LAST: if the upsert throws, no claim persists and a retried
      // batch re-applies instead of being silently lost (the JDBC twin gets
      // the same guarantee from transaction rollback); the whole method is
      // synchronized, so claim-after-apply is still atomic
      if (journal.contains((sinkId, batchId))) false
      else {
        inner.upsertAll(rows)
        journal.add((sinkId, batchId))
        true
      }
    }
    /** Slice-level twin of [[upsertSliceExactlyOnce]] — 3-part claim key. */
    def applySlice(sinkId: String, batchId: Long, sliceId: Int,
                   rows: Iterable[BalanceRow]): Boolean = synchronized {
      if (sliceJournal.contains((sinkId, batchId, sliceId))) false
      else {
        inner.upsertAll(rows)
        sliceJournal.add((sinkId, batchId, sliceId))
        true
      }
    }
  }

  /** In-memory reference implementation of the same merge — the unit-test
    * double for the JDBC sink and the state carrier for local streaming runs.
    */
  final class MemoryStore {
    private val rows = scala.collection.mutable.HashMap.empty[String, BalanceRow]
    def upsertAll(batch: Iterable[BalanceRow]): Unit = synchronized {
      batch.foreach { d =>
        rows.update(d.account, rows.get(d.account).map(merge(_, d)).getOrElse(d))
      }
    }
    def snapshot: Map[String, BalanceRow] = synchronized(rows.toMap)
    def clear(): Unit = synchronized(rows.clear())
  }
}
