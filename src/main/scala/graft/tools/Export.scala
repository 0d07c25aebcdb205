package graft.tools

import graft.operators.{ProgressMeter, XmlPipe}

/** CLI surface — the reference's launcher contract (F14,
  * Query.java:41-125) reshaped for the Spark engine. Where the
  * reference took `-host/-port/-cql/-keys`, this takes a fixture dir +
  * table + optional projection/filter (the CQL SELECT equivalents) and
  * streams one xmlpipe2 docset to stdout or a file.
  *
  * Usage:
  *   Export <dir> <table> <keys:comma-separated> [out=-] [cols=*] [where=]
  *          [--join table:key[=dimKey] ...]
  *
  * `--join` left-joins a dimension table before projection/filter (the
  * denormalizing index-source shape); repeatable.
  *
  * `SPARK_GRAFT_STRICT=1` (env, like the `-debug` twin
  * `SPARK_GRAFT_DEBUG`) switches ids and renderings to bug-for-bug
  * reference parity ([[graft.operators.XmlPipe.formatDocs]]) for
  * migrations pinned to a reference-built index.
  *
  * Divergence from the reference, by design: errors exit nonzero
  * (the reference printed a stack trace and exited 0 with truncated
  * XML — Query.java:171-176, a defect we do not reproduce).
  */
object Export {

  /** `--join <table>:<leftKey>[=<rightKey>]` → (table, leftKey,
    * rightKey); malformed specs are a Left(error). Factored out so the
    * flag grammar is unit-testable without spawning a CLI JVM.
    */
  private[graft] def parseJoin(
      spec: String): Either[String, (String, String, String)] =
    spec.split(":", 2) match {
      case Array(table, keys) if table.nonEmpty && keys.nonEmpty =>
        keys.split("=", 2) match {
          case Array(l, r) if l.nonEmpty && r.nonEmpty => Right((table, l, r))
          case Array(l) if l.nonEmpty => Right((table, l, l))
          case _ => Left(s"bad --join spec '$spec': empty key")
        }
      case _ => Left(s"bad --join spec '$spec': want <table>:<key>[=<key>]")
    }

  def main(args: Array[String]): Unit = {
    // flags first (repeatable --join), then the reference's positionals
    val joinSpecs = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String)]
    val positional = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      if (args(i) == "--join") {
        if (i + 1 >= args.length) {
          System.err.println("error: --join requires <table>:<key>[=<key>]")
          sys.exit(2)
        }
        parseJoin(args(i + 1)) match {
          case Right(j) => joinSpecs += j
          case Left(err) => System.err.println(s"error: $err"); sys.exit(2)
        }
        i += 2
      } else { positional += args(i); i += 1 }
    }
    if (positional.length < 3) {
      System.err.println(
        "usage: Export <dir> <table> <keys,comma,separated> " +
          "[out|-|sharded:<dir>] [cols,comma] [where-expr] " +
          "[--join table:key[=dimKey] ...]")
      sys.exit(2)
    }
    val Seq(dir, table, keysArg) = positional.take(3).toSeq
    val out = positional.lift(3).getOrElse("-")
    val cols = positional.lift(4).getOrElse("*")
    val where = positional.lift(5).getOrElse("")
    // Reference key parsing: comma-split, empties filtered (Query.java:112-119).
    val keys = keysArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (keys.isEmpty) {
      System.err.println("error: -keys requires at least one non-empty column name")
      sys.exit(2)
    }

    val spark = graft.Sessions.builder("graft-export",
        sys.env.getOrElse("SPARK_MASTER", "local[*]"),
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_DEBUG=1 — the reference's -debug progress metering
    // (F12): periodic "Read records: N processing time: M msec" lines.
    val meter =
      if (sys.env.get("SPARK_GRAFT_DEBUG").exists(_.nonEmpty))
        Some(ProgressMeter.attach(spark, every = 1000))
      else None

    try {
      val cfg = graft.operators.ExportConfig(
        source = graft.operators.ParquetSource(dir, table),
        keys = keys,
        columns =
          if (cols == "*") Nil
          else {
            val cs = cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            if (cs.isEmpty) {
              // blank projection must fail loudly, not mean "all columns"
              System.err.println(
                "error: cols must be '*' or a non-empty comma-separated list")
              sys.exit(2)
            }
            cs
          },
        where = where,
        strictParity = sys.env.get("SPARK_GRAFT_STRICT").exists(_.nonEmpty),
        joins = joinSpecs.toSeq.map { case (t, l, r) =>
          graft.operators.JoinSpec(graft.operators.ParquetSource(dir, t), l, r)
        })
      val docs =
        try graft.operators.Pipeline.docs(spark, cfg)
        catch {
          case e: IllegalArgumentException =>
            System.err.println(s"error: ${e.getMessage}")
            sys.exit(2)
        }
      val t0 = System.nanoTime()
      // "sharded:<dir>" → one well-formed docset per partition (the
      // distributed-indexing path); otherwise one ordered stream, to
      // stdout or, all or nothing, to a file.
      if (out.startsWith("sharded:")) {
        XmlPipe.writeShardedDocsets(docs, out.stripPrefix("sharded:"))
      } else if (out == "-") XmlPipe.writeDocset(docs, System.out)
      else XmlPipe.writeDocsetFile(docs, out)
      meter.foreach { m =>
        // listener bus is async: wait for the row count to settle
        var prev = -1L
        val deadline = System.currentTimeMillis() + 5000
        while (m.totalRows != prev && System.currentTimeMillis() < deadline) {
          prev = m.totalRows
          Thread.sleep(100)
        }
        System.err.println(
          s"Query export successful. Rows read: ${m.totalRows}, total " +
            s"processing time: ${(System.nanoTime() - t0) / 1000000L} msec")
      }
    } finally spark.stop()
  }
}
