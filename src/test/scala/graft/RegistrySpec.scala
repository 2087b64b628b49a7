package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The query registry's file and selection surface: `oracle_sql.json` as
  * Verify writes it, and the `SPARK_GRAFT_ONLY` selection. Builds no
  * session.
  */
class RegistrySpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("oracleJson of every name parses back to exactly SparkEntry.oracleSql") {
    val names = Sessions.selected(None)
    val parsed = mapper.readValue(Verify.oracleJson(names),
      classOf[java.util.LinkedHashMap[String, String]]).asScala
    assert(parsed.keys.toSeq == names)
    assert(parsed.toMap == SparkEntry.oracleSql)
  }

  test("jsonString escapes quotes, backslashes and every control character") {
    val s = "a\tb\rc\u0001d\"e\\f\ng\u001f"
    val json = Verify.jsonString(s)
    assert(!json.exists(_ < ' '))
    assert(mapper.readValue(json, classOf[String]) == s)
  }

  test("SPARK_GRAFT_ONLY selects in order and rejects names that are no query") {
    assert(Sessions.selected(None) == SparkEntry.queries.keys.toSeq.sorted)
    assert(Sessions.selected(Some("sp_knn,q1_agg")) == Seq("q1_agg", "sp_knn"))
    val e = intercept[IllegalArgumentException](
      Sessions.selected(Some("sp_knn,sp_knnn,q1_agg,q1_aggg")))
    assert(e.getMessage.endsWith("names no query: q1_aggg, sp_knnn"))
  }
}
