package graft.pipeline

import java.util.UUID

import org.apache.spark.sql.SparkSession

import graft.sources.SingleFileCsv

/** The reference's query-execution API surface (O4: `Query(sql,
  * outputLocation)`, agency-delta.go:248-279): execute SQL, land the
  * result as a headered CSV named `<query-id>.csv` under the output
  * location — Athena's result contract. Spark actions are synchronous, so
  * the reference's 1-second poll loop disappears; failures propagate as
  * exceptions (the fail-fast half of the O6 error policy — the reference
  * `log.Fatal`s exactly here).
  *
  * Returns the written file's path (query id = random UUID, like
  * Athena's execution id). [[graft.sources.SingleFileCsv]] writes it:
  * the SQL runs as one execution at its natural parallelism, each task
  * formats its rows with Spark's CSV generator, and the driver writes
  * them into the file — no write job, no commit protocol — so a small
  * interactive result costs its query. A large result streams through
  * hidden part files instead of driver memory.
  */
object QueryApi {

  def query(spark: SparkSession, sql: String, outputLocation: String): String = {
    val df = spark.sql(sql)
    SingleFileCsv.write(df, outputLocation, s"${UUID.randomUUID()}.csv")
  }
}
