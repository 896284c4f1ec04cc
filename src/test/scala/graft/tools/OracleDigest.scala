package graft.tools

/** Prints `<query>\t<sha256 of its oracle SQL>` for every
  * `SparkEntry.oracleSql` entry, sorted by query name. Diffing two
  * revisions' output proves a refactor left every oracle text byte-identical:
  *
  * {{{
  *   sbt "Test/runMain graft.tools.OracleDigest" > digests.tsv
  * }}}
  */
object OracleDigest {

  def digest(sql: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(sql.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  def main(args: Array[String]): Unit =
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (q, sql) =>
      println(s"$q\t${digest(sql)}")
    }
}
