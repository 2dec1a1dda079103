package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The text of every oracle is pinned: `oracle_sql.sha256` holds one
  * `<sha256 of the SQL>  <query name>` line per `SparkEntry.oracleSql`
  * entry, so an oracle changes only together with its pin.
  */
class OraclePinSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString

  test("every oracleSql string matches its committed SHA-256 pin") {
    val source = scala.io.Source.fromResource("oracle_sql.sha256", getClass.getClassLoader)(scala.io.Codec.UTF8)
    val pinned = try source.getLines().filter(_.nonEmpty).map { line =>
      val Array(hash, name) = line.split("  ", 2)
      name -> hash
    }.toMap finally source.close()
    val actual = SparkEntry.oracleSql.map { case (name, sql) => name -> sha256(sql) }
    val differ = (pinned.keySet ++ actual.keySet).toSeq.sorted.filter(n => pinned.get(n) != actual.get(n))
    assert(differ.isEmpty,
      "oracle text and pin differ; the pin lines of the current text:\n" +
        differ.flatMap(n => actual.get(n).map(h => s"$h  $n")).mkString("\n"))
    assert(pinned.size === SparkEntry.queries.size)
  }
}
