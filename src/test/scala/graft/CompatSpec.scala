package graft

/** Locks in the reference golden-corpus replay (see [[CompatAudit]]): every
  * one of the 271 extracted queries must execute through the dialect front
  * end, and the column-name / RowDescription-type-OID / single-row value
  * assertions from the reference's own test suite must ALL hold — full
  * drop-in parity, kept green by CI rather than re-measured by hand each
  * round.
  */
class CompatSpec extends SparkSpecBase {

  test("golden corpus: 271/271 execute with full column, OID and value parity") {
    // fresh derived session: own temp-view/function registry, so catalog
    // registration picks up the reference test-config identity regardless
    // of what other suites registered on the shared session
    val s = spark.newSession()
    val store = new Store(s,
      java.nio.file.Files.createTempDirectory("graft-compat").toString)
    val r = CompatAudit.runAudit(s, store)
    assert(r.total == 271)
    assert(r.failures.isEmpty,
      r.failures.take(5).map { case (q, e) => q.take(120) + " => " + e }.mkString("\n"))
    assert(r.descOk == r.descTot,
      r.diffs.filter(_._2.startsWith("cols")).take(5).mkString("\n"))
    // the reference pins every column's RowDescription DataTypeOID
    // (query_handler_test.go "types") — 261 queries carry the pin
    assert(r.oidTot >= 260, s"expected >=260 OID-pinned queries, got ${r.oidTot}")
    assert(r.oidOk == r.oidTot,
      r.diffs.filter(_._2.startsWith("oids")).take(5).mkString("\n"))
    assert(r.valOk == r.valTot,
      r.diffs.filter(_._2.startsWith("vals")).take(5).mkString("\n"))
  }

  test("golden corpus: 271/271 over a real socket — names, OIDs, wire values") {
    // the full corpus through the v3 simple protocol: what's compared is
    // the actual bytes in RowDescription / DataRow, so the encoder, message
    // framing, and per-connection session plumbing are all inside the loop;
    // each query's extended-protocol replay must answer identically
    val s = spark.newSession()
    val store = new Store(s,
      java.nio.file.Files.createTempDirectory("graft-compat-sock").toString)
    val r = CompatAudit.runSocketAudit(s, store)
    assert(r.total == 271)
    assert(r.failures.isEmpty,
      r.failures.take(5).map { case (q, e) => q.take(120) + " => " + e }.mkString("\n"))
    assert(r.descTot > 0 && r.descOk == r.descTot,
      r.diffs.filter(_._2.startsWith("cols")).take(5).mkString("\n"))
    assert(r.oidTot >= 260, s"expected >=260 OID-pinned queries, got ${r.oidTot}")
    assert(r.oidOk == r.oidTot,
      r.diffs.filter(_._2.startsWith("oids")).take(5).mkString("\n"))
    assert(r.valTot > 0 && r.valOk == r.valTot,
      r.diffs.filter(_._2.startsWith("vals")).take(5).mkString("\n"))
    assert(r.protocolDiffs.isEmpty, s"${r.protocolDiffs.size} differ over the " +
      "extended protocol:\n" + r.protocolDiffs.take(5).mkString("\n"))
  }
}
