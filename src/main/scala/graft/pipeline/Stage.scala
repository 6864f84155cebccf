package graft.pipeline

import org.apache.spark.sql.DataFrame

/**
 * Durable stage tables: the one write path of the pipeline's parquet
 * stages (normalized records, block keys and their count tables, match
 * edges, components; one Iceberg table per stage on a real deployment).
 */
object Stage {

  /** Writes `df` to `path` as parquet, replacing what was there, and returns
    * the table read back with the schema just written: a read that infers
    * its schema runs a footer-reading Spark job; this one runs none. */
  def write(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }
}
