package graft

import java.math.{BigDecimal => JBigDecimal}
import java.sql.{Connection, PreparedStatement, SQLException}

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.BalanceUpsert
import graft.sinks.BalanceUpsert.BalanceRow

/** Executes the JVM BODY of [[BalanceUpsert.upsertSliceExactlyOnce]] — the
  * claim convention (`executeUpdate() == 1`), the 8-slot parameter binding
  * in [[BalanceUpsert.columns]] order, the rollback/commit protocol, the
  * root-cause-preserving suppression on a broken connection, and the
  * autoCommit restore — against reflective JDBC fakes. The SQL TEXT is
  * executed for real in `BalanceUpsertDuckDbSpec`; this spec closes the
  * complementary gap: a defect confined to the Scala method (swapped
  * parameter indices, a wrong claim check, a masked exception) previously
  * passed the whole suite because only the strings and the in-memory twin
  * were tested.
  */
class BalanceUpsertJdbcProtocolSpec extends AnyFunSuite {

  private def proxy[T](handler: (String, Array[AnyRef]) => AnyRef)(
      implicit ct: scala.reflect.ClassTag[T]): T =
    java.lang.reflect.Proxy.newProxyInstance(
      getClass.getClassLoader, Array(ct.runtimeClass),
      (_, m, a) => handler(m.getName, if (a == null) Array.empty else a)
    ).asInstanceOf[T]

  /** A minimal in-JVM database: a journal set keyed like the real table's
    * primary key, captured upsert parameter rows, and a call log. Only the
    * JDBC surface the method actually uses is implemented; anything else
    * fails loudly.
    */
  private final class FakeDb(failExecuteBatch: Boolean = false,
                             failRollbackToo: Boolean = false) {
    val sliceJournal = scala.collection.mutable.Set.empty[(String, Long, Int)]
    val applied = scala.collection.mutable.Buffer.empty[Vector[Any]]
    val calls = scala.collection.mutable.Buffer.empty[String]
    var autoCommit = true

    private def statement(): PreparedStatement = {
      val params = scala.collection.mutable.Map.empty[Int, Any]
      val batch = scala.collection.mutable.Buffer.empty[Vector[Any]]
      proxy[PreparedStatement] { (name, args) =>
        name match {
          case "setString" | "setLong" | "setInt" | "setBigDecimal" =>
            params(args(0).asInstanceOf[Int]) = args(1); null
          case "addBatch" =>
            batch += (1 to params.keys.max).map(params(_)).toVector; null
          case "executeBatch" =>
            if (failExecuteBatch) throw new SQLException("connection reset mid-batch")
            applied ++= batch
            calls += s"executeBatch(${batch.size})"
            batch.indices.map(_ => 1).toArray
          case "executeUpdate" => // journal claims + GC use this path:
            // 2 bound slots = retention delete, 4 = slice claim (3-part key)
            if (params.keys.max == 2) {
              val sinkId = params(1).asInstanceOf[String]
              val upTo = params(2).asInstanceOf[java.lang.Long].longValue
              val sl = sliceJournal.filter(k => k._1 == sinkId && k._2 <= upTo)
              sliceJournal --= sl
              calls += s"gc($sinkId, <=$upTo, removed=${sl.size})"
              Int.box(sl.size)
            } else {
              val key = (params(1).asInstanceOf[String],
                params(2).asInstanceOf[java.lang.Long].longValue,
                params(3).asInstanceOf[java.lang.Integer].intValue)
              val fresh = sliceJournal.add(key)
              calls += s"claimSlice($key, fresh=$fresh)"
              Int.box(if (fresh) 1 else 0)
            }
          case "close" => calls += "st.close"; null
          case other =>
            throw new UnsupportedOperationException(s"statement.$other")
        }
      }
    }

    val connection: Connection = proxy[Connection] { (name, args) =>
      name match {
        case "getAutoCommit" => Boolean.box(autoCommit)
        case "setAutoCommit" =>
          autoCommit = args(0).asInstanceOf[java.lang.Boolean]
          calls += s"setAutoCommit($autoCommit)"; null
        case "prepareStatement" => statement()
        case "commit" => calls += "commit"; null
        case "rollback" =>
          calls += "rollback"
          if (failRollbackToo) throw new SQLException("rollback failed: connection closed")
          null
        case other => throw new UnsupportedOperationException(s"connection.$other")
      }
    }
  }

  private def row(account: String, bal: String, ts: Long, idx: Int,
                  rid: String): BalanceRow =
    BalanceRow(account, new JBigDecimal(bal), new JBigDecimal(ts),
      s"bh-$ts", s"ch-$ts", idx, s"tx-$rid", rid)

  private val rows = Seq(
    row("alice", "1000000000000000000000000000000", 2000, 3, "r-a1"),
    row("bob", "-7", 1000, 0, "r-b1"))

  // A single-connection batch is slice 0 of the slice protocol.
  test("fresh batch: claim, bind all 8 slots in columns order, commit, restore autoCommit") {
    val db = new FakeDb
    val applied = BalanceUpsert.upsertSliceExactlyOnce(
      rows, "balances", "upsert_journal", "sink@ck", 5L, 0, db.connection)
    assert(applied)
    assert(db.sliceJournal === Set(("sink@ck", 5L, 0)))
    assert(db.calls.exists(_.startsWith("claim")) && db.calls.contains("commit"))
    // claim-then-apply: the claim runs before any upsert
    assert(db.calls.indexWhere(_.startsWith("claim")) <
      db.calls.indexWhere(_.startsWith("executeBatch")))
    assert(!db.calls.contains("rollback"))
    // parameter order is the documented columns order, values unmangled
    assert(db.applied.map(_.length).toSet === Set(8))
    val a = db.applied.head
    assert(a(0) === "alice")
    assert(a(1).asInstanceOf[JBigDecimal].compareTo(
      new JBigDecimal("1000000000000000000000000000000")) == 0)
    assert(a(2).asInstanceOf[JBigDecimal].compareTo(new JBigDecimal(2000)) == 0)
    assert(a(3) === "bh-2000" && a(4) === "ch-2000")
    assert(a(5) === Int.box(3))
    assert(a(6) === "tx-r-a1" && a(7) === "r-a1")
    assert(db.applied(1)(0) === "bob")
    assert(db.autoCommit, "autoCommit must be restored after the batch")
  }

  test("redelivered batch: claim fails, whole batch rolled back, nothing applied") {
    val db = new FakeDb
    db.sliceJournal += (("sink@ck", 5L, 0)) // a previous (crashed-after-commit) attempt
    val applied = BalanceUpsert.upsertSliceExactlyOnce(
      rows, "balances", "upsert_journal", "sink@ck", 5L, 0, db.connection)
    assert(!applied)
    assert(db.applied.isEmpty, "a redelivered batch must not re-apply")
    assert(db.calls.contains("rollback") && !db.calls.contains("commit"))
    assert(db.autoCommit)
  }

  test("broken connection mid-batch: root cause propagates, rollback failure suppressed") {
    val db = new FakeDb(failExecuteBatch = true, failRollbackToo = true)
    val e = intercept[SQLException] {
      BalanceUpsert.upsertSliceExactlyOnce(
        rows, "balances", "upsert_journal", "sink@ck", 5L, 0, db.connection)
    }
    assert(e.getMessage === "connection reset mid-batch",
      "the ORIGINAL failure must propagate, not the rollback's")
    assert(e.getSuppressed.exists(_.getMessage.contains("rollback failed")),
      "the rollback failure must ride along as suppressed")
    assert(db.applied.isEmpty)
    // the journal claim was rolled back conceptually; the fake records it,
    // which mirrors a real DB only until rollback — the assertion that
    // matters is that nothing was committed
    assert(!db.calls.contains("commit"))
    assert(db.autoCommit, "autoCommit must be restored on the failure path too")
  }

  test("statements are closed on both the claim and the upsert paths") {
    val db = new FakeDb
    BalanceUpsert.upsertSliceExactlyOnce(
      rows, "balances", "upsert_journal", "sink@ck", 5L, 0, db.connection)
    assert(db.calls.count(_ == "st.close") == 2,
      "claim + upsert statements must both be closed per micro-batch " +
        "(pooled-connection callers leak handles otherwise)")
  }

  test("fresh slice: 4-slot claim (sink, batch, slice, n_rows), commit, applied") {
    val db = new FakeDb
    val applied = BalanceUpsert.upsertSliceExactlyOnce(
      rows, "balances", "upsert_journal", "sink@ck", 5L, 7, db.connection)
    assert(applied)
    assert(db.sliceJournal === Set(("sink@ck", 5L, 7)))
    assert(db.calls.exists(_.startsWith("claimSlice")) && db.calls.contains("commit"))
    assert(db.applied.map(_(0)) === Seq("alice", "bob"))
    assert(db.autoCommit)
  }

  test("redelivered slice: claim fails, rolled back, nothing applied — other slices unaffected") {
    val db = new FakeDb
    db.sliceJournal += (("sink@ck", 5L, 7)) // slice 7 committed before the crash
    val replay7 = BalanceUpsert.upsertSliceExactlyOnce(
      rows, "balances", "upsert_journal", "sink@ck", 5L, 7, db.connection)
    assert(!replay7)
    assert(db.applied.isEmpty && db.calls.contains("rollback"))
    // the UNCLAIMED slice of the same redelivered batch still applies
    val fresh8 = BalanceUpsert.upsertSliceExactlyOnce(
      rows, "balances", "upsert_journal", "sink@ck", 5L, 8, db.connection)
    assert(fresh8)
    assert(db.applied.nonEmpty && db.calls.contains("commit"))
  }

  test("journal GC removes only this sink's claims at or below the horizon") {
    val db = new FakeDb
    db.sliceJournal ++= Seq(("sink@ck", 1L, 0), ("sink@ck", 2L, 0),
      ("sink@ck", 3L, 0), ("other@ck", 1L, 0), ("sink@ck", 1L, 1), ("sink@ck", 3L, 1))
    val removed = BalanceUpsert.gcJournal(db.connection, "upsert_journal",
      "sink@ck", upToBatchId = 2L)
    assert(removed === 3) // slice claims (1,0), (2,0) and (1,1)
    assert(db.sliceJournal === Set(("sink@ck", 3L, 0), ("other@ck", 1L, 0),
      ("sink@ck", 3L, 1)),
      "claims above the horizon and other sinks' claims must survive")
    assert(db.calls.count(_ == "st.close") == 1, "GC statement must be closed")
    // the surviving recent claim still guards redelivery
    assert(!BalanceUpsert.upsertSliceExactlyOnce(
      rows, "balances", "upsert_journal", "sink@ck", 3L, 0, db.connection))
  }
}
