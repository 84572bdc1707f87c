package graft

import java.math.{BigDecimal => JBigDecimal}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.BalanceUpsert
import graft.sinks.BalanceUpsert.BalanceRow

/** Executes the GENERATED upsert statement ([[BalanceUpsert.upsertSql]])
  * end-to-end against a real SQL engine. No live Postgres exists offline, but
  * DuckDB speaks the same `INSERT … ON CONFLICT (pk) DO UPDATE SET … EXCLUDED`
  * dialect (row-value comparison included), so the statement TEXT — previously
  * only string-asserted in `SinksSpec` and semantically mirrored by
  * [[BalanceUpsert.MemoryStore]] — is here prepared, parameter-bound in
  * [[BalanceUpsert.columns]] order, and executed row by row; the resulting
  * table must equal the MemoryStore folding the same deltas, column for
  * column. This is the closest offline analogue of the reference's deployed
  * Kafka-Connect JDBC upsert path (reference: README.md:273-297,
  * `insert.mode=UPSERT, pk.fields=account`).
  *
  * Runs through the same `python3` + duckdb toolchain the oracle gate uses
  * (ToolsSpec precedent); skips cleanly if it is absent.
  */
class BalanceUpsertDuckDbSpec extends AnyFunSuite {

  private def haveDuckDb: Boolean =
    try {
      new ProcessBuilder("python3", "-c", "import duckdb").start().waitFor() == 0
    } catch { case _: java.io.IOException => false }

  private def row(account: String, bal: String, ts: Long, idx: Int,
                  rid: String): BalanceRow =
    BalanceRow(account, new JBigDecimal(bal), new JBigDecimal(ts),
      s"bh-$ts", s"ch-$ts-$idx", idx, s"tx-$rid", rid)

  /** Delta sequence exercising every branch of the merge: fresh inserts,
    * additive conflicts whose provenance is newer (replace) and older (keep),
    * equal-timestamp ties broken by index_in_chunk and then receipt_id,
    * negative deltas, and 38-digit-scale balances.
    */
  private val deltas: Seq[BalanceRow] = Seq(
    row("alice", "1000000000000000000000000000000", 2000, 0, "r-a1"),
    row("bob", "5", 1000, 0, "r-b1"),
    // newer event: provenance replaced, balance added
    row("alice", "-250000000000000000000000000000", 3000, 0, "r-a2"),
    // older event: balance added, provenance kept
    row("alice", "7", 1500, 9, "r-a0"),
    // same ts as bob's stored row, higher index_in_chunk → newer
    row("bob", "-2", 1000, 3, "r-b2"),
    // same (ts, idx) as stored → receipt_id tiebreak ("r-b3" > "r-b2")
    row("bob", "10", 1000, 3, "r-b3"),
    // and one that loses the receipt_id tiebreak ("r-b0" < "r-b3")
    row("bob", "1", 1000, 3, "r-b0"),
    row("carol", "0", 500, 0, "r-c1"))

  test("generated ON CONFLICT SQL executed by DuckDB equals the MemoryStore merge") {
    assume(haveDuckDb, "python3+duckdb not available — SQL execution test skipped")

    val store = new BalanceUpsert.MemoryStore
    store.upsertAll(deltas)
    val expected = store.snapshot

    val dir = Files.createTempDirectory("upsert-duckdb")
    try {
      val sqlPath = dir.resolve("upsert.sql")
      Files.write(sqlPath, BalanceUpsert.upsertSql("balances").getBytes("UTF-8"))
      val tsv = deltas.map { d =>
        Seq(d.account, d.balance.toPlainString, d.blockTimestamp.toPlainString,
          d.blockHash, d.chunkHash, d.indexInChunk.toString,
          d.transactionHash, d.receiptId).mkString("\t")
      }.mkString("\n")
      val deltaPath = dir.resolve("deltas.tsv")
      Files.write(deltaPath, tsv.getBytes("UTF-8"))
      val script = dir.resolve("run_upsert.py")
      // the script executes the statement text verbatim — any drift between
      // the Scala-side dialect and a real engine fails here, not in prod
      Files.write(script,
        """import sys, duckdb
          |from decimal import Decimal
          |sql = open(sys.argv[1]).read()
          |con = duckdb.connect()
          |con.execute('''CREATE TABLE balances (
          |  account VARCHAR PRIMARY KEY, balance DECIMAL(38,0),
          |  block_timestamp DECIMAL(38,0), block_hash VARCHAR, chunk_hash VARCHAR,
          |  index_in_chunk INTEGER, transaction_hash VARCHAR, receipt_id VARCHAR)''')
          |for line in open(sys.argv[2]):
          |    a, bal, ts, bh, ch, idx, tx, rid = line.rstrip("\n").split("\t")
          |    # Decimal binding = the exact-value analogue of JDBC setBigDecimal
          |    # (a plain python int this wide would coerce through float64)
          |    con.execute(sql, [a, Decimal(bal), Decimal(ts), bh, ch, int(idx), tx, rid])
          |for r in con.execute("SELECT * FROM balances ORDER BY account").fetchall():
          |    print("\t".join(str(c) for c in r))
          |""".stripMargin.getBytes("UTF-8"))

      val proc = new ProcessBuilder("python3", script.toString,
        sqlPath.toString, deltaPath.toString).redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
      val exit = proc.waitFor()
      assert(exit == 0, s"DuckDB rejected the generated upsert SQL (exit $exit):\n$out")

      val got = out.linesIterator.filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1)
        f(0) -> BalanceRow(f(0), new JBigDecimal(f(1)), new JBigDecimal(f(2)),
          f(3), f(4), f(5).toInt, f(6), f(7))
      }.toMap

      assert(got.keySet === expected.keySet)
      for ((acct, want) <- expected) {
        val g = got(acct)
        assert(g.balance.compareTo(want.balance) == 0,
          s"$acct balance: duckdb=${g.balance} store=${want.balance}")
        assert(g.blockTimestamp.compareTo(want.blockTimestamp) == 0, s"$acct ts")
        assert(g.blockHash === want.blockHash, s"$acct block_hash")
        assert(g.chunkHash === want.chunkHash, s"$acct chunk_hash")
        assert(g.indexInChunk === want.indexInChunk, s"$acct index_in_chunk")
        assert(g.transactionHash === want.transactionHash, s"$acct transaction_hash")
        assert(g.receiptId === want.receiptId, s"$acct receipt_id")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(dir)) { st =>
        st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** The exactly-once protocol ([[BalanceUpsert.upsertSliceExactlyOnce]]'s
    * SQL surface: journal DDL + claim + upserts in one transaction) executed
    * in DuckDB for a single-connection sink, whose every batch is slice 0,
    * against an at-least-once redelivery schedule — batch 1 is delivered
    * twice — and compared against (a) the journaled in-memory twin
    * under the SAME schedule and (b) the plain MemoryStore applying each
    * batch ONCE: all three must agree, proving the redelivered batch was
    * skipped whole rather than double-applied (the additive balance merge
    * would otherwise inflate alice by batch 1's deltas).
    */
  test("journaled upsert protocol in DuckDB skips a redelivered batch") {
    assume(haveDuckDb, "python3+duckdb not available — SQL execution test skipped")

    val batches: Seq[(Long, Seq[BalanceRow])] = Seq(
      0L -> Seq(row("alice", "100", 1000, 0, "r-a1"), row("bob", "7", 1000, 0, "r-b1")),
      1L -> Seq(row("alice", "-30", 2000, 0, "r-a2")),
      1L -> Seq(row("alice", "-30", 2000, 0, "r-a2")), // redelivery, same batch id
      2L -> Seq(row("alice", "5", 3000, 0, "r-a3"), row("carol", "1", 500, 0, "r-c1")))

    // twin 1: journaled in-memory store under the same schedule
    val js = new BalanceUpsert.JournaledStore
    val applied = batches.map { case (id, rows) => js.applySlice("balances", id, 0, rows) }
    assert(applied === Seq(true, true, false, true))
    // twin 2: each distinct batch exactly once into a plain store
    val once = new BalanceUpsert.MemoryStore
    batches.distinct.foreach { case (_, rows) => once.upsertAll(rows) }
    assert(js.inner.snapshot === once.snapshot)
    val expected = once.snapshot

    val dir = Files.createTempDirectory("upsert-eo-duckdb")
    try {
      Files.write(dir.resolve("upsert.sql"),
        BalanceUpsert.upsertSql("balances").getBytes("UTF-8"))
      Files.write(dir.resolve("ddl.sql"),
        BalanceUpsert.sliceJournalDdl("upsert_journal").getBytes("UTF-8"))
      Files.write(dir.resolve("claim.sql"),
        BalanceUpsert.sliceClaimSql("upsert_journal").getBytes("UTF-8"))
      val tsv = batches.zipWithIndex.flatMap { case ((id, rows), delivery) =>
        rows.map { d =>
          Seq(delivery.toString, id.toString, d.account, d.balance.toPlainString,
            d.blockTimestamp.toPlainString, d.blockHash, d.chunkHash,
            d.indexInChunk.toString, d.transactionHash, d.receiptId).mkString("\t")
        }
      }.mkString("\n")
      Files.write(dir.resolve("deltas.tsv"), tsv.getBytes("UTF-8"))
      // replays the claim-then-apply transaction per delivered batch: a
      // failed claim rolls the whole batch back (redelivery = no-op)
      Files.write(dir.resolve("run_eo.py"),
        """import sys, duckdb
          |from decimal import Decimal
          |from itertools import groupby
          |upsert = open(sys.argv[1]).read()
          |ddl = open(sys.argv[2]).read()
          |claim = open(sys.argv[3]).read()
          |con = duckdb.connect()
          |con.execute('''CREATE TABLE balances (
          |  account VARCHAR PRIMARY KEY, balance DECIMAL(38,0),
          |  block_timestamp DECIMAL(38,0), block_hash VARCHAR, chunk_hash VARCHAR,
          |  index_in_chunk INTEGER, transaction_hash VARCHAR, receipt_id VARCHAR)''')
          |con.execute(ddl)
          |lines = [l.rstrip("\n").split("\t") for l in open(sys.argv[4]) if l.strip()]
          |# one transaction per DELIVERY (field 0 = delivery seq; field 1 =
          |# the batch id the claim is keyed on, duplicated on redelivery;
          |# every batch is slice 0)
          |for (_, bid), grp in groupby(lines, key=lambda f: (f[0], f[1])):
          |    rows = list(grp)
          |    con.execute("BEGIN")
          |    claimed = con.execute(claim, ["balances", int(bid), 0, len(rows)]).fetchone()[0]
          |    if claimed != 1:
          |        con.execute("ROLLBACK")
          |        continue
          |    for _, _, a, bal, ts, bh, ch, idx, tx, rid in rows:
          |        con.execute(upsert, [a, Decimal(bal), Decimal(ts), bh, ch, int(idx), tx, rid])
          |    con.execute("COMMIT")
          |for r in con.execute("SELECT * FROM balances ORDER BY account").fetchall():
          |    print("\t".join(str(c) for c in r))
          |print("JOURNAL\t" + str(con.execute("SELECT count(*) FROM upsert_journal").fetchone()[0]))
          |""".stripMargin.getBytes("UTF-8"))

      val proc = new ProcessBuilder("python3", dir.resolve("run_eo.py").toString,
        dir.resolve("upsert.sql").toString, dir.resolve("ddl.sql").toString,
        dir.resolve("claim.sql").toString, dir.resolve("deltas.tsv").toString)
        .redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
      val exit = proc.waitFor()
      assert(exit == 0, s"DuckDB rejected the exactly-once protocol (exit $exit):\n$out")

      val lines = out.linesIterator.filter(_.nonEmpty).toSeq
      val journal = lines.filter(_.startsWith("JOURNAL\t"))
      assert(journal === Seq("JOURNAL\t3"), s"journal rows: $journal")
      val got = lines.filterNot(_.startsWith("JOURNAL\t")).map { l =>
        val f = l.split("\t", -1)
        f(0) -> new JBigDecimal(f(1))
      }.toMap
      assert(got.keySet === expected.keySet)
      for ((acct, want) <- expected)
        assert(got(acct).compareTo(want.balance) == 0,
          s"$acct balance: duckdb=${got(acct)} store=${want.balance}")
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(dir)) { st =>
        st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** The PARTITION-PARALLEL protocol's SQL surface (slice journal DDL +
    * 3-part-key claim + upserts per slice transaction) executed in DuckDB
    * against the two redelivery schedules the partition path must survive:
    * a redelivered WHOLE batch (both slices replayed — both claims fail)
    * and a redelivered SINGLE slice (the crash-after-slice-0-committed
    * window: slice 0's claim fails on replay while slice 1, whose
    * transaction never committed, applies). Compared against the
    * slice-journaled in-memory twin under the same schedule and a plain
    * store applying each distinct (batch, slice) exactly once.
    */
  test("sliced journal protocol in DuckDB skips redelivered batches AND single slices") {
    assume(haveDuckDb, "python3+duckdb not available — SQL execution test skipped")

    // (batchId, sliceId, rows); deliveries in order, with batch 1 slice 0
    // redelivered alone (partial-failure replay) and batch 2 redelivered
    // whole (post-checkpoint-crash replay)
    val deliveries: Seq[(Long, Int, Seq[BalanceRow])] = Seq(
      (0L, 0, Seq(row("alice", "100", 1000, 0, "r-a1"))),
      (0L, 1, Seq(row("bob", "7", 1000, 0, "r-b1"))),
      (1L, 0, Seq(row("alice", "-30", 2000, 0, "r-a2"))),
      (1L, 0, Seq(row("alice", "-30", 2000, 0, "r-a2"))), // single-slice replay
      (1L, 1, Seq(row("dave", "11", 2500, 0, "r-d1"))),   // the crashed slice, late
      (2L, 0, Seq(row("alice", "5", 3000, 0, "r-a3"))),
      (2L, 1, Seq(row("carol", "1", 500, 0, "r-c1"))),
      (2L, 0, Seq(row("alice", "5", 3000, 0, "r-a3"))),   // whole-batch replay
      (2L, 1, Seq(row("carol", "1", 500, 0, "r-c1"))))

    val js = new BalanceUpsert.JournaledStore
    val applied = deliveries.map { case (b, sl, rs) => js.applySlice("bal", b, sl, rs) }
    assert(applied === Seq(true, true, true, false, true, true, true, false, false))
    val once = new BalanceUpsert.MemoryStore
    deliveries.distinct.foreach { case (_, _, rs) => once.upsertAll(rs) }
    assert(js.inner.snapshot === once.snapshot)
    val expected = once.snapshot

    val dir = Files.createTempDirectory("upsert-slice-duckdb")
    try {
      Files.write(dir.resolve("upsert.sql"),
        BalanceUpsert.upsertSql("balances").getBytes("UTF-8"))
      Files.write(dir.resolve("ddl.sql"),
        BalanceUpsert.sliceJournalDdl("slice_journal").getBytes("UTF-8"))
      Files.write(dir.resolve("claim.sql"),
        BalanceUpsert.sliceClaimSql("slice_journal").getBytes("UTF-8"))
      val tsv = deliveries.zipWithIndex.flatMap { case ((bid, slice, rows), delivery) =>
        rows.map { d =>
          Seq(delivery.toString, bid.toString, slice.toString, d.account,
            d.balance.toPlainString, d.blockTimestamp.toPlainString, d.blockHash,
            d.chunkHash, d.indexInChunk.toString, d.transactionHash, d.receiptId)
            .mkString("\t")
        }
      }.mkString("\n")
      Files.write(dir.resolve("deltas.tsv"), tsv.getBytes("UTF-8"))
      // one transaction per DELIVERED SLICE: claim the 3-part key, apply the
      // slice's rows, commit; a failed claim rolls the slice back whole
      Files.write(dir.resolve("run_slice.py"),
        """import sys, duckdb
          |from decimal import Decimal
          |from itertools import groupby
          |upsert = open(sys.argv[1]).read()
          |ddl = open(sys.argv[2]).read()
          |claim = open(sys.argv[3]).read()
          |con = duckdb.connect()
          |con.execute('''CREATE TABLE balances (
          |  account VARCHAR PRIMARY KEY, balance DECIMAL(38,0),
          |  block_timestamp DECIMAL(38,0), block_hash VARCHAR, chunk_hash VARCHAR,
          |  index_in_chunk INTEGER, transaction_hash VARCHAR, receipt_id VARCHAR)''')
          |con.execute(ddl)
          |lines = [l.rstrip("\n").split("\t") for l in open(sys.argv[4]) if l.strip()]
          |for (_, bid, slc), grp in groupby(lines, key=lambda f: (f[0], f[1], f[2])):
          |    rows = list(grp)
          |    con.execute("BEGIN")
          |    claimed = con.execute(claim, ["balances", int(bid), int(slc), len(rows)]).fetchone()[0]
          |    if claimed != 1:
          |        con.execute("ROLLBACK")
          |        continue
          |    for _, _, _, a, bal, ts, bh, ch, idx, tx, rid in rows:
          |        con.execute(upsert, [a, Decimal(bal), Decimal(ts), bh, ch, int(idx), tx, rid])
          |    con.execute("COMMIT")
          |for r in con.execute("SELECT account, balance FROM balances ORDER BY account").fetchall():
          |    print("\t".join(str(c) for c in r))
          |print("JOURNAL\t" + str(con.execute("SELECT count(*) FROM slice_journal").fetchone()[0]))
          |""".stripMargin.getBytes("UTF-8"))

      val proc = new ProcessBuilder("python3", dir.resolve("run_slice.py").toString,
        dir.resolve("upsert.sql").toString, dir.resolve("ddl.sql").toString,
        dir.resolve("claim.sql").toString, dir.resolve("deltas.tsv").toString)
        .redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
      val exit = proc.waitFor()
      assert(exit == 0, s"DuckDB rejected the sliced protocol (exit $exit):\n$out")

      val lines = out.linesIterator.filter(_.nonEmpty).toSeq
      // 6 distinct (batch, slice) claims survive the 9 deliveries
      assert(lines.filter(_.startsWith("JOURNAL\t")) === Seq("JOURNAL\t6"))
      val got = lines.filterNot(_.startsWith("JOURNAL\t")).map { l =>
        val f = l.split("\t", -1)
        f(0) -> new JBigDecimal(f(1))
      }.toMap
      assert(got.keySet === expected.keySet)
      for ((acct, want) <- expected)
        assert(got(acct).compareTo(want.balance) == 0,
          s"$acct balance: duckdb=${got(acct)} store=${want.balance}")
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(dir)) { st =>
        st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }
    }
  }
}
