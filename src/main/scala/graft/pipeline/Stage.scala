package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.StructType

/**
 * Durable stage tables: the one write path of the pipeline's parquet
 * stages (normalized records, block keys and their count tables, match
 * edges, components; one Iceberg table per stage on a real deployment),
 * and the one commit and read path of a work dir's state: its
 * `state.manifest`, written last by one atomic rename, holding the config
 * signature and one [[Stage.Chain]] per table the next fold reads. A run
 * that throws before its commit leaves no manifest, and every fold
 * refuses a dir without one.
 */
object Stage {

  /** Writes `df` to `path` as parquet, replacing what was there, and returns
    * the table read back with the schema just written: a read that infers
    * its schema runs a footer-reading Spark job; this one runs none. */
  def write(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** One stage table as files: the union of `files` minus every row that
    * matches a row of the `tombstones` files on their columns `on` (Iceberg
    * base + delete files). A one-file chain is a plain table. */
  case class Chain(files: Seq[String], tombstones: Seq[String] = Nil, on: Seq[String] = Nil)

  case class State(configSig: String, chains: Map[String, Chain])

  val Manifest = "state.manifest"

  /** Makes `work` prior state. Paths are made absolute: a chain reaches
    * into earlier state dirs, and a later fold may run from another CWD. */
  def commit(work: String, state: State): Unit = {
    def abs(p: String) = Paths.get(p).toAbsolutePath.normalize.toString
    val lines = s"config\t${state.configSig}" +: state.chains.toSeq.flatMap { case (t, c) =>
      c.files.map(p => s"$t\tfile\t${abs(p)}") ++
        c.tombstones.map(p => s"$t\ttombstone\t${abs(p)}") ++ c.on.map(k => s"$t\ton\t$k")
    }
    replaceFile(Paths.get(work, Manifest), lines.mkString("\n"))
  }

  /** Withdraws `work` as prior state, before a run overwrites its tables. */
  def uncommit(work: String): Unit = Files.deleteIfExists(Paths.get(work, Manifest))

  /** The state `work` committed. Refuses a dir with no manifest, and one
    * whose chains list a table that is not complete on disk (an earlier
    * state dir deleted or partly vacuumed), before any Spark read. */
  def readState(work: String): State = {
    val m = Paths.get(work, Manifest)
    require(Files.exists(m), s"prior state dir $work lacks $Manifest (not written by a " +
      "complete resolve or fold); run a full re-resolve instead")
    val lines = Files.readString(m).split("\n").toSeq
    val rows = lines.tail.map(_.split("\t", 3))
    def of(t: String, kind: String) = rows.collect { case Array(`t`, `kind`, v) => v }
    val chains = rows.map(_(0)).distinct
      .map(t => t -> Chain(of(t, "file"), of(t, "tombstone"), of(t, "on"))).toMap
    val missing = chains.values.flatMap(c => c.files ++ c.tombstones)
      .filterNot(p => new java.io.File(p, "_SUCCESS").exists())
    require(missing.isEmpty, s"prior state dir $work lacks ${missing.mkString(", ")} " +
      "(its chains reach into earlier state dirs, which must outlive the table: copy " +
      "them forward before vacuuming); run a full re-resolve instead")
    State(lines.head.stripPrefix("config\t"), chains)
  }

  /** The table `chain` holds, read with its known `schema` (no inference
    * job); the tombstones broadcast, as their files are batch-sized. */
  def read(spark: SparkSession, schema: StructType, chain: Chain): DataFrame = {
    val base = spark.read.schema(schema).parquet(chain.files: _*)
    if (chain.tombstones.isEmpty) base
    else base.join(
      broadcast(spark.read.schema(StructType(chain.on.map(schema(_))))
        .parquet(chain.tombstones: _*).distinct()),
      chain.on, "left_anti")
  }

  /** Replaces `target` with `content` in one step: a reader sees the old
    * file or the new one, never a partial write. One writer per target. */
  def replaceFile(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}
