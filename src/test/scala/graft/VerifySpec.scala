package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `oracle_sql.json`, the file the correctness compare reads: it must parse
  * back into exactly the registry's name → oracle map.
  */
class VerifySpec extends AnyFunSuite {

  private def parse(json: String): Map[String, String] =
    new ObjectMapper()
      .readValue(json, classOf[java.util.Map[String, String]])
      .asScala.toMap

  test("oracle_sql.json parses back into the registry's name-to-oracle map") {
    val oracles = SparkEntry.registry.map(q => q.name -> q.oracle)
    val awkward = "q_escape" -> "SELECT 'a\tb' AS \"x\",\r\n  '\\s+' AS y -- \u0001"
    val parsed = parse(Verify.oracleJson(oracles :+ awkward))
    assert(parsed == (oracles :+ awkward).toMap)
  }
}
