package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end reference-parity pipeline assembly (SURVEY.md §7 item 5):
  * source → optional projection/filter (the CQL SELECT-list / WHERE
  * equivalents, evaluated by Catalyst with pushdown instead of by a
  * Cassandra coordinator) → doc-id derivation → typed rendering →
  * xmlpipe2 formatting → docset sink.
  *
  * The source sits behind a minimal trait: parquet in this offline
  * environment; a Cassandra-connector source (`spark.read.format(
  * "org.apache.spark.sql.cassandra")` with `spark.cassandra.
  * connection.*` for the reference's host/port/credentials/timeout
  * surface — F1/F2, Query.java:127-143) plugs in with the same
  * contract in a connected deployment.
  */
trait DocSource {
  def load(spark: SparkSession): DataFrame
}

case class ParquetSource(dir: String, table: String) extends DocSource {
  def load(spark: SparkSession): DataFrame = Tables.load(spark, dir, table)
}

/** The connected-deployment F2 source: the reference's Cassandra
  * connection surface ([[graft.Tables.CassandraConf]], option-for-
  * option from Query.java:44-143) over the public connector format.
  * Swapping [[ParquetSource]] for this in an [[ExportConfig]] is the
  * entire migration step — every downstream stage is source-agnostic.
  */
case class CassandraSource(conf: Tables.CassandraConf,
    keyspace: String, table: String) extends DocSource {
  def load(spark: SparkSession): DataFrame =
    Tables.loadCassandra(spark, conf, keyspace, table)
}

/** A dimension joined onto the export before projection/filter — the
  * Sphinx-migration shape the reference could not express (its CQL hit
  * one Cassandra table; real index sources routinely denormalize a
  * dimension in). LEFT join on `leftKey = rightKey` (rightKey defaults
  * to leftKey): export row count never silently shrinks on dimension
  * gaps — missing attributes render as empty fields, the xmlpipe2
  * convention for absent values. Small dimensions broadcast via
  * Catalyst's size estimate; no hint needed.
  */
case class JoinSpec(source: DocSource, leftKey: String, rightKey: String)

/** The reference CLI's semantic payload (F14): what to read, which
  * columns (CQL select-list), which predicate (CQL WHERE), which key
  * columns derive the Sphinx doc id. `strictParity` requests
  * bug-for-bug ids and renderings (see [[XmlPipe.formatDocs]]) for
  * migrations that must keep a reference-built index stable.
  */
case class ExportConfig(
    source: DocSource,
    keys: Seq[String],
    columns: Seq[String] = Nil,
    where: String = "",
    strictParity: Boolean = false,
    joins: Seq[JoinSpec] = Nil)

object Pipeline {

  /** The formatted-documents DataFrame (columns: id, doc) — everything
    * before the sink edge; shuffle-free and whole-stage codegen'd.
    */
  def docs(spark: SparkSession, cfg: ExportConfig): DataFrame = {
    var df = cfg.source.load(spark)
    // dimensions join BEFORE projection/filter so cols/where can
    // reference dimension attributes; key absence fails loudly on both
    // sides (the CLI contract — never a silent cross or empty export)
    cfg.joins.foreach { j =>
      val dim = j.source.load(spark)
      if (!df.columns.contains(j.leftKey))
        throw new IllegalArgumentException(
          s"join key '${j.leftKey}' is not in the export source " +
            s"(have: ${df.columns.mkString(", ")})")
      if (!dim.columns.contains(j.rightKey))
        throw new IllegalArgumentException(
          s"join key '${j.rightKey}' is not in the joined table " +
            s"(have: ${dim.columns.mkString(", ")})")
      // same-named key (the table:key shorthand): USING-join so the
      // frame keeps ONE key column — a qualified-equality join would
      // leave two same-named columns and make every later reference
      // (projection, where, doc-id keys, the formatter itself)
      // ambiguous. Distinct names keep both columns; they can't clash.
      df =
        if (j.leftKey == j.rightKey) df.join(dim, Seq(j.leftKey), "left")
        else df.join(dim, df(j.leftKey) === dim(j.rightKey), "left")
    }
    if (cfg.columns.nonEmpty) df = df.selectExpr(cfg.columns: _*)
    if (cfg.where.nonEmpty) df = df.filter(cfg.where)
    cfg.keys.find(k => !df.columns.contains(k)).foreach { k =>
      throw new IllegalArgumentException(
        s"key column '$k' is not in the result (have: ${df.columns.mkString(", ")})")
    }
    XmlPipe.formatDocs(df, cfg.keys, cfg.strictParity)
  }

  /** Sharded docsets for distributed indexing (the 100 TB edge). */
  def exportSharded(spark: SparkSession, cfg: ExportConfig, path: String): Unit =
    XmlPipe.writeShardedDocsets(docs(spark, cfg), path)
}
