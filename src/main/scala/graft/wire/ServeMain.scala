package graft

/** Standalone server entry point: boots a session under the bench's policy
  * ([[GraftSession]]), registers the tables and pg-compat layer, and serves
  * the PG wire protocol until killed.
  * Usage: graft.ServeMain [port] [sfDir]
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(54321)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.build("graft-server", sfDir)
    Tables.registerAll(spark, sfDir)
    val store = new Store(spark,
      sys.env.getOrElse("GRAFT_WAREHOUSE",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
    // read-replica deployment: GRAFT_READ_ONLY=1 pins the SERVER scope's
    // default_transaction_read_only, so every connection inherits the
    // 25006 write refusal (a session may still SET it off, PG semantics);
    // the writer lease independently protects the warehouse if a rogue
    // write does land while another process is the writer
    if (sys.env.get("GRAFT_READ_ONLY").exists(v => v == "1" || v == "on"))
      SessionSettings.withSession(spark)(
        SessionSettings.set("default_transaction_read_only", "on"))
    // multi-node ingest: GRAFT_FOLLOWER_INSERTS=1 lets this process commit
    // autocommit pure inserts through the lease holder's commit chain
    // (inbox adoption) when another process is the warehouse writer — and,
    // when this process IS the writer, makes it adopt followers' deltas.
    // Set it on every participating server process.
    if (sys.env.get("GRAFT_FOLLOWER_INSERTS").exists(v => v == "1" || v == "on"))
      spark.conf.set("spark.graft.followerInserts", "true")
    // GRAFT_STATEMENT_FORWARDING=1 additionally forwards autocommit
    // UPDATE/DELETE/MERGE (and INSERTs when follower ingest is off) to the
    // lease holder for execution — any node accepts data-plane DML
    if (sys.env.get("GRAFT_STATEMENT_FORWARDING").exists(v => v == "1" || v == "on"))
      spark.conf.set("spark.graft.statementForwarding", "true")
    // credential config, like the reference's --database/--user flags:
    // database always validated, user only when configured
    val bound = new PgWireServer(spark, store, port,
      database = sys.env.getOrElse("GRAFT_DATABASE", "graft"),
      user = sys.env.getOrElse("GRAFT_USER", ""),
      serverVersion = sys.env.getOrElse("GRAFT_SERVER_VERSION", "17.0")).start()
    println(s"graft server ready on port $bound (sf=$sfDir)")
    Thread.currentThread.join()
  }
}
