package graft

import graft.assemble.DocAssembler
import graft.catalog.Catalog
import graft.schema.SchemaDef
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: `run` builds the result over a data directory, and
  * `oracle` is the DuckDB SQL that recomputes the same rows from the raw
  * tables. Both sides name their columns alike (the correctness gate sorts
  * columns by name before hashing).
  */
final case class Query(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

object Query {

  private[graft] def loader(s: SparkSession, dir: String): String => DataFrame =
    Tables.load(s, dir)

  private[graft] def assembled(s: SparkSession, dir: String, fixture: String): DataFrame =
    DocAssembler.assemble(SchemaDef.parseNodes(fixture), loader(s, dir), Catalog.testData)
}
