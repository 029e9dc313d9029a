package perfbench

/** Facts about the generator that the benchmark's tests assert: the
  * same seed gives the same chain and truth, another seed does not, and
  * a chain reaches every product table and both sides of the TTL; and
  * the probe reads the table a write plan inserts into. */
object SelfTest {
  def run(seed: Long): Map[String, Any] = {
    def digest(c: NearChainGen.Chain): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      c.blocks.foreach(b => md.update(NearChainGen.blockJson(b).getBytes("UTF-8")))
      md.update(c.expected.toString.getBytes("UTF-8"))
      md.update(c.drillTx.getBytes("UTF-8"))
      md.digest().map(b => f"$b%02x").mkString
    }
    val a = NearChainGen.generate(seed, 400)
    val e = a.expected
    Map(
      "digest" -> digest(a),
      "digest_again" -> digest(NearChainGen.generate(seed, 400)),
      "digest_other_seed" -> digest(NearChainGen.generate(seed + 1, 400)),
      "rows" -> e.rows,
      "lookups" -> e.lookups,
      "unresolved" -> e.unresolved,
      "drill_events" -> a.txEvents.getOrElse(a.drillTx, 0L),
      "chains_by_gap" -> a.chainsByGap.map { case (g, n) => g.toString -> n },
      "table_written" -> Probe.tableWritten("Execute InsertIntoHadoopFsRelationCommand " +
        "file:/w/wh/silver_nep245, false, [height_bucket#9], Parquet, [path=/w/wh], Append").getOrElse(""),
      "table_written_by_query" -> Probe.tableWritten("CollectLimit 21").getOrElse(""))
  }
}
