package graft

/** Every query cell is declared twice in `SparkEntry`: the Spark build
  * in `queries` and its DuckDB twin in `oracleSql`. A cell missing from
  * either map would drop out of the oracle comparison without a word,
  * so the two key sets must match exactly. */
class RegistryParitySpec extends SparkSpec {

  test("every SparkEntry query has an oracle twin and every twin a query") {
    val queries = SparkEntry.queries.keySet
    val oracle = SparkEntry.oracleSql.keySet
    assert((queries diff oracle).isEmpty, s"queries without an oracle twin: ${queries diff oracle}")
    assert((oracle diff queries).isEmpty, s"oracle twins without a query: ${oracle diff queries}")
  }
}
