package graft
package registry

import graft.functions._
import graft.operators._
import graft.SparkEntry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** XmlPipe query registrations + raw DuckDB oracle twins, split
  * verbatim out of the SparkEntry monolith (round 13). Composition —
  * and the oracle whitespace normalization — happens in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]];
  * shared helpers stay on [[graft.SparkEntry]] (private[graft]).
  */
private[graft] object RegXmlPipe {
  /** Lands `docs` (keyed by `doc_id`) as a sharded docset in a scratch
    * dir and reads it back with `read`.
    */
  private def viaDocset(docs: DataFrame, scratch: String)(
      read: String => DataFrame): DataFrame =
    Scratch.landed(scratch) { tmp =>
      val out = new java.io.File(tmp, "docset").toString
      XmlPipe.writeShardedDocsets(XmlPipe.formatDocs(docs, Seq("doc_id")), out)
      read(out)
    }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "xml_documents" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("text"), col("source"), col("doc_id"), col("n_chars"))
      XmlPipe.formatDocs(docs, Seq("doc_id")).orderBy(col("id"))
    }),
    "xml_documents_composite" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("text"), col("source"), col("doc_id"), col("n_chars"))
      XmlPipe.formatDocs(docs, Seq("source", "doc_id"))
        .orderBy(col("id"), col("doc"))
    }),
    "xml_lineitem" -> ((s, dir) => {
      XmlPipe.formatDocs(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber")).orderBy(col("id"), col("doc"))
    }),
    "xml_events" -> ((s, dir) => {
      // exercises the bracketed-string fallback (JSON objects fail the
      // List<Integer[]> parse → escaped raw text, Query.java:294-297)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("props"), col("ts"))
      XmlPipe.formatDocs(ev, Seq("event_id")).orderBy(col("id"))
    }),
    "xml_events_stream" -> ((s, dir) => {
      // the same formatting pipeline driven through Structured
      // Streaming (continuous-indexing shape); same oracle as the
      // batch twin
      graft.streaming.EventsStream.xmlToCompletion(s, dir)
        .orderBy(col("id"))
    }),

    // ---- doc-id kernels (F4/F5/F6) ----
    "docid_single" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(DocId.docId(docs, Seq("doc_id")).as("id"))
        .orderBy(col("id"))
    }),
    "docid_composite" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
        DocId.docId(docs, Seq("source", "doc_id")).as("id"))
        .orderBy(col("doc_id"))
    }),
    "docid_strict" -> ((s, dir) => {
      // strict-parity single-key id reads the key through getInt
      // (Query.java:203): a synthetic wide key — 2³²-multiples plus a
      // signed low word — collapses to just the (sign-extended) low
      // word, which the oracle reproduces with modular arithmetic
      val docs = t(s, dir, "documents").withColumn("big_id",
        col("doc_id") * lit(4294967296L) + col("doc_id") - lit(250L))
      docs.select(col("doc_id"),
        DocId.docId(docs, Seq("big_id"), strictParity = true).as("id"))
        .orderBy(col("doc_id"))
    }),

    // ---- typed rendering (F8/F9) ----
    "render_lineitem" -> ((s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_orderkey").cast("string").as("r_orderkey"),
        col("l_quantity").cast("string").as("r_quantity"),
        col("l_returnflag").as("r_flag"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("r_shipdate"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "render_arrays" -> ((s, dir) => {
      t(s, dir, "embeddings").select(
        col("vec_id"),
        array_join(transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("long").cast("string")),
          " ").as("r_embedding"))
        .orderBy(col("vec_id"))
    }),
    "render_strict" -> ((s, dir) => {
      // bug-for-bug getValue emulation (Render.renderStrict): Date
      // .toString timestamps (Q:253), ByteBuffer descriptor blobs
      // (Q:225/243), counter-through-getInt truncation (Q:247) — the
      // +3e9 offset pushes user_id past Int.MaxValue so the 32-bit
      // window actually bites
      val ev = t(s, dir, "events")
      ev.select(col("event_id"),
        Render.renderStrict(col("ts"), ev.schema("ts").dataType).as("r_ts"),
        Render.renderStrict(encode(coalesce(col("props"), lit("")), "UTF-8"),
          org.apache.spark.sql.types.BinaryType).as("r_blob"),
        Render.renderStrict(col("user_id") + lit(3000000000L),
          org.apache.spark.sql.types.LongType, counter = true)
          .as("r_counter"))
        .orderBy(col("event_id"))
    }),

    // ---- mem markup (F7) ----
    "mem_markup_events" -> ((s, dir) => {
      t(s, dir, "events").select(
        col("event_id"),
        MemMarkup.memMarkup(col("props")).as("markup"),
        MemMarkup.isMem(col("props")).as("is_mem"))
        .orderBy(col("event_id"))
    }),
    "mem_markup_matrix" -> ((s, dir) => {
      // The events fixture's props are JSON objects, so
      // mem_markup_events only oracle-exercises the fallback branch.
      // Here the POSITIVE branch is oracle-checked too: build
      // deterministic int-matrix JSON from event fields — plain ints,
      // quoted ints (Jackson's Integer.parseInt coercion), a two-row
      // matrix, plus object and float-cell fallbacks — and let the
      // oracle construct the expected <mem> rendering from the same
      // fields directly (no JSON parsing needed on the SQL side).
      val u = col("user_id").cast("string")
      val e = (col("event_id") % 1000).cast("string")
      val raw = when(col("event_id") % 5 === 0,
          concat(lit("[["), u, lit(","), e, lit("]]")))
        .when(col("event_id") % 5 === 1,
          concat(lit("[[\""), u, lit("\",\""), e, lit("\"]]")))
        .when(col("event_id") % 5 === 2,
          concat(lit("[["), u, lit("],["), e, lit(",7]]")))
        .when(col("event_id") % 5 === 3, lit("{\"k\":1}"))
        .otherwise(concat(lit("[[1.5,"), u, lit("]]")))
      t(s, dir, "events").select(
        col("event_id"),
        MemMarkup.memMarkup(raw).as("markup"),
        MemMarkup.isMem(raw).as("is_mem"))
        .orderBy(col("event_id"))
    }),

    // ---- CQL-pushdown query shapes (SURVEY §2b: filter/sort/limit) ----
    "sqlfn_gate" -> ((s, dir) => {
      // derived driver gate for q_sql_functions — the last no_oracle
      // entry that had no derived check: materialize the SQL-registry
      // demo output and score every SQL-expressible invariant in
      // DuckDB. The oracle recomputes `h` INDEPENDENTLY via the
      // recursive sdbm CTE (the engine-neutral twin that already pins
      // docid_composite and corpus_manifest), recomputes the shingle
      // count from the text itself, and checks the sorted-merge
      // self-intersection identity; simhash stays ScalaTest-pinned
      // (murmur is the one leg SQL cannot reach).
      val dumped = dumpForOracle(s, dir, "sqlfn_gate",
        SparkEntry.queries("q_sql_functions")(s, dir))
      val docs = t(s, dir, "documents")
        .select(col("doc_id").as("d_id"), col("text"))
      dumped.join(docs, col("doc_id") === col("d_id"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("h") ===
            graft.functions.sdbm_hash(col("d_id"), col("text")), 1L)
            .otherwise(0L)).as("n_h_match"),
          sum(when(col("n_shingles") ===
            greatest(size(split(col("text"), " ")) - 2, lit(0)), 1L)
            .otherwise(0L)).as("n_shingle_match"),
          sum(when(col("self_shared") === col("n_distinct_shingles"), 1L)
            .otherwise(0L)).as("n_selfshared_match"))
        .selectExpr("n_rows", "n_h_match", "n_shingle_match",
          "n_selfshared_match",
          "n_h_match = n_rows AS h_ok",
          "n_shingle_match = n_rows AS shingle_ok",
          "n_selfshared_match = n_rows AS selfshared_ok")
    }),
    "xml_read_roundtrip" -> ((s, dir) => {
      // export → import loop: format documents, land sharded docsets,
      // parse them back with XmlPipe.readDocset — proving a produced
      // index source round-trips to the original values (the
      // migration-validation story). All fields come back as strings;
      // the oracle renders the same columns as text.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      viaDocset(docs, "graft-xmlrt")(out => XmlPipe.readDocset(s, out,
        Seq("doc_id", "lang", "source", "n_chars"))).orderBy(col("id"))
    }),

    "xml_parse_roundtrip" -> ((s, dir) => {
      // the built-in-parser twin of xml_read_roundtrip: format the
      // full documents row through the xmlpipe2 renderer, then parse
      // each fragment back with Spark 4's NATIVE from_xml — typed
      // recovery (attribute id → _id, entity unescaping, int
      // re-typing) through Catalyst's own StaxXmlParser instead of
      // the xmlpipe2 connector. Proves a produced fragment is
      // consumable by a stock Spark pipeline with no graft code on
      // the read side; the oracle reads the same values straight
      // from the source table. Narrow per-row projection — no
      // shuffle before the presentation sort.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      XmlPipe.formatDocs(docs, Seq("doc_id"))
        .select(from_xml(col("doc"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "_id BIGINT, doc_id BIGINT, text STRING, lang STRING, " +
              "source STRING, n_chars BIGINT"),
          new java.util.HashMap[String, String]()).as("p"))
        .select(col("p._id").as("id"), col("p.doc_id").as("doc_id"),
          col("p.text").as("text"), col("p.lang").as("lang"),
          col("p.source").as("source"), col("p.n_chars").as("n_chars"))
        .orderBy(col("id"))
    }),

    "xml_dsv2_source" -> ((s, dir) => {
      // the DataSource V2 connector end to end by its short name:
      // export documents as sharded docsets, read them back through
      // format("xmlpipe2") — the registered TableProvider — proving
      // the connector seam (the one a Cassandra source would plug
      // into) against the driver oracle. Same equivalence as
      // xml_read_roundtrip, without the readDocset helper.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      viaDocset(docs, "graft-dsv2q")(out => s.read.format("xmlpipe2")
        .option("fields", "doc_id,lang,source,n_chars").load(out))
        .orderBy(col("id"))
    }),

    "xml_dsv2_count" -> ((s, dir) => {
      // aggregate pushdown through the connector: COUNT(*) answered
      // by per-shard delimiter counts (SupportsPushDownAggregates,
      // partial mode — Spark's final agg sums one pre-counted long
      // per shard; no fragment is parsed). The plan must show the
      // pushed aggregation — a silent fallback to a row scan would
      // still count correctly, so the query asserts the plan shape
      // into the hashed output.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      viaDocset(docs, "graft-dsv2c") { out =>
        val counted = s.read.format("xmlpipe2")
          .option("fields", "doc_id").load(out)
          .agg(count(lit(1)).as("n_docs"))
        val pushed = counted.queryExecution.executedPlan.toString
          .contains("PushedAggregation: [COUNT(*)]")
        counted.withColumn("agg_pushed", lit(pushed))
      }
    }),

    "corpus_manifest" -> ((s, dir) => {
      // reproducibility manifest: per-source doc count, total size,
      // and an ORDER-INDEPENDENT content fingerprint (XOR-fold of the
      // per-doc sdbm hash — overflow-free, identical under any
      // partitioning) — the dataset-card row a corpus release pins so
      // a rebuild can prove content identity without a byte diff
      t(s, dir, "documents")
        .withColumn("fp", graft.functions.sdbm_hash(lit(0L), col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("decimal(38,0)")).cast("long")
            .as("total_chars"),
          expr("bit_xor(fp)").as("content_fp"))
        .orderBy(col("source"))
    }),
    "corpus_pipeline" -> ((s, dir) => {
      // end-to-end hygiene-chain gate: the COMPOSED default pipeline
      // (NFC-canonicalize → boilerplate strip → PII redact → quality
      // filter → exact fingerprint dedup → duplicated-span removal →
      // deterministic hash split), reduced to a 3-row per-split
      // manifest (count, chars, order-independent content
      // fingerprint). Every stage is individually oracle-green
      // elsewhere; this entry proves their COMPOSITION — a drifted
      // join key, lost column, or reordered stage anywhere in
      // Corpus.pipelineFrame changes a fingerprint here.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      graft.tools.Corpus.pipelineFrame(docs)
        .withColumn("fp", graft.functions.sdbm_hash(lit(0L), col("text")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"),
          expr("bit_xor(fp)").as("content_fp"))
        .orderBy(col("split"))
    }),
  )

  lazy val oracleSqlRaw: Map[String, String] = Map(
    "xml_documents" -> s"""
      SELECT doc_id AS id,
             chr(10) || '<sphinx:document id="' || CAST(doc_id AS VARCHAR) || '">' ||
             $docFieldsSql AS doc
      FROM documents ORDER BY id""",
    "xml_documents_composite" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "doc_id", "source")}
      SELECT s.hash AS id,
             chr(10) || '<sphinx:document id="' || CAST(s.hash AS VARCHAR) || '">' ||
             $docFieldsSql AS doc
      FROM documents JOIN sdbm s ON s.sid = doc_id
      ORDER BY id, doc""",
    "xml_lineitem" -> s"""
      WITH RECURSIVE ${sdbmCte("lineitem",
        "l_orderkey * 10 + l_linenumber", "l_orderkey",
        "CAST(l_linenumber AS VARCHAR)")}
      SELECT s.hash AS id,
             chr(10) || '<sphinx:document id="' || CAST(s.hash AS VARCHAR) || '">' ||
             '<l_orderkey>' || CAST(l_orderkey AS VARCHAR) || '</l_orderkey>' ||
             '<l_partkey>' || CAST(l_partkey AS VARCHAR) || '</l_partkey>' ||
             '<l_suppkey>' || CAST(l_suppkey AS VARCHAR) || '</l_suppkey>' ||
             '<l_linenumber>' || CAST(l_linenumber AS VARCHAR) || '</l_linenumber>' ||
             '<l_quantity>' || CAST(l_quantity AS VARCHAR) || '</l_quantity>' ||
             '<l_extendedprice>' || CAST(l_extendedprice AS VARCHAR) || '</l_extendedprice>' ||
             '<l_discount>' || CAST(l_discount AS VARCHAR) || '</l_discount>' ||
             '<l_tax>' || CAST(l_tax AS VARCHAR) || '</l_tax>' ||
             '<l_returnflag>' || l_returnflag || '</l_returnflag>' ||
             '<l_linestatus>' || l_linestatus || '</l_linestatus>' ||
             '<l_shipdate>' || strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') || '</l_shipdate>' ||
             '</sphinx:document>' AS doc
      FROM lineitem JOIN sdbm s ON s.sid = l_orderkey * 10 + l_linenumber
      ORDER BY id, doc""",
    "xml_events" -> s"""
      SELECT event_id AS id,
             chr(10) || '<sphinx:document id="' || CAST(event_id AS VARCHAR) || '">' ||
             '<event_id>' || CAST(event_id AS VARCHAR) || '</event_id>' ||
             '<props>' || ${escSql("props")} || '</props>' ||
             '<ts>' || strftime(ts, '%Y-%m-%d %H:%M:%S') || '</ts>' ||
             '</sphinx:document>' AS doc
      FROM events ORDER BY id""",
    "xml_events_stream" -> s"""
      SELECT event_id AS id,
             chr(10) || '<sphinx:document id="' || CAST(event_id AS VARCHAR) || '">' ||
             '<event_id>' || CAST(event_id AS VARCHAR) || '</event_id>' ||
             '<props>' || ${escSql("props")} || '</props>' ||
             '<ts>' || strftime(ts, '%Y-%m-%d %H:%M:%S') || '</ts>' ||
             '</sphinx:document>' AS doc
      FROM events ORDER BY id""",
    "docid_composite" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "doc_id", "source")}
      SELECT doc_id, s.hash AS id
      FROM documents JOIN sdbm s ON s.sid = doc_id
      ORDER BY doc_id""",
    "docid_strict" -> """
      SELECT doc_id,
             ((doc_id * 4294967296 + doc_id - 250 + 2147483648) % 4294967296
               + 4294967296) % 4294967296 - 2147483648 AS id
      FROM documents ORDER BY doc_id""",
    "render_strict" -> """
      SELECT event_id,
             strftime(ts, '%a %b %d %H:%M:%S UTC %Y') AS r_ts,
             'java.nio.HeapByteBuffer[pos=0 lim=' ||
               CAST(octet_length(encode(coalesce(props, ''))) AS VARCHAR) ||
               ' cap=' ||
               CAST(octet_length(encode(coalesce(props, ''))) AS VARCHAR) ||
               ']' AS r_blob,
             CAST(((user_id + 3000000000 + 2147483648) % 4294967296
               + 4294967296) % 4294967296 - 2147483648 AS VARCHAR) AS r_counter
      FROM events ORDER BY event_id""",
    "sqlfn_gate" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "doc_id", "text", "sg")},
      d AS (SELECT doc_id, h, n_shingles, n_distinct_shingles, self_shared
            FROM read_parquet('$RecallDirToken/sqlfn_gate/*.parquet'))
      SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN d.h = sg.hash THEN 1 ELSE 0 END)
               AS BIGINT) AS n_h_match,
             CAST(sum(CASE WHEN d.n_shingles =
                  greatest(len(string_split(doc.text, ' ')) - 2, 0)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_shingle_match,
             CAST(sum(CASE WHEN d.self_shared = d.n_distinct_shingles
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_selfshared_match,
             TRUE AS h_ok, TRUE AS shingle_ok, TRUE AS selfshared_ok
      FROM d JOIN documents doc ON d.doc_id = doc.doc_id
             JOIN sg ON sg.sid = d.doc_id""",
    "docid_single" ->
      "SELECT CAST(doc_id AS BIGINT) AS id FROM documents ORDER BY id",
    "render_lineitem" -> """
      SELECT l_orderkey, l_linenumber,
             CAST(l_orderkey AS VARCHAR) AS r_orderkey,
             CAST(l_quantity AS VARCHAR) AS r_quantity,
             l_returnflag AS r_flag,
             strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS r_shipdate
      FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "render_arrays" -> """
      SELECT vec_id,
             array_to_string(list_transform(embedding,
               x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS VARCHAR)),
               ' ') AS r_embedding
      FROM embeddings ORDER BY vec_id""",
    "mem_markup_events" -> """
      SELECT event_id, props AS markup, FALSE AS is_mem
      FROM events ORDER BY event_id""",
    "mem_markup_matrix" -> """
      SELECT event_id,
             CASE e5 WHEN 0 THEN '<mem>' || u || ' ' || e || '</mem>'
                     WHEN 1 THEN '<mem>' || u || ' ' || e || '</mem>'
                     WHEN 2 THEN '<mem>' || u || '</mem><mem>' || e || ' 7</mem>'
                     WHEN 3 THEN '{"k":1}'
                     ELSE '[[1.5,' || u || ']]' END AS markup,
             e5 IN (0, 1, 2) AS is_mem
      FROM (SELECT event_id, event_id % 5 AS e5,
              CAST(user_id AS VARCHAR) AS u,
              CAST(event_id % 1000 AS VARCHAR) AS e
            FROM events)
      ORDER BY event_id""",
    "xml_read_roundtrip" -> """
      SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS doc_id, lang,
             source, CAST(n_chars AS VARCHAR) AS n_chars
      FROM documents ORDER BY id""",
    "xml_dsv2_source" -> """
      SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS doc_id, lang,
             source, CAST(n_chars AS VARCHAR) AS n_chars
      FROM documents ORDER BY id""",
    "xml_parse_roundtrip" -> """
      SELECT doc_id AS id, doc_id, text, lang, source, n_chars
      FROM documents ORDER BY id""",
    "xml_dsv2_count" -> """
      SELECT count(*) AS n_docs, TRUE AS agg_pushed FROM documents""",
    "corpus_manifest" -> s"""
      WITH RECURSIVE ${sdbmCte("documents", "doc_id", "0", "text")}
      SELECT d.source, count(*) AS n_docs,
             CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
             bit_xor(s.hash) AS content_fp
      FROM documents d JOIN sdbm s ON s.sid = d.doc_id
      GROUP BY d.source ORDER BY d.source""",
    // the composed hygiene chain, stage twins spliced end to end:
    // html-clean + scrub over NFC text -> quality reasons over the
    // REDACTED text -> fingerprint-dedup (sdbm of the normalized
    // text, min doc_id wins) -> span removal over the deduped set ->
    // hash split -> per-split manifest. Three sdbm instantiations
    // (content fingerprint, split key, manifest fingerprint) under
    // distinct CTE prefixes.
    "corpus_pipeline" -> s"""
      WITH RECURSIVE
      clean AS (SELECT doc_id, source,
                  ${htmlCleanSql("nfc_normalize(text)")} AS t0
                FROM documents),
      pii AS (SELECT doc_id, source, t0 AS t FROM clean),
      ${scrubChainSql("doc_id, source")},
      red AS (SELECT doc_id, source, t AS text
              FROM s${Scrub.DefaultRules.size}),
      ${qualityCtesSql("red")},
      kept AS (SELECT rd.doc_id, rd.source, rd.text
               FROM red rd JOIN r ON r.doc_id = rd.doc_id
               WHERE r.reason = 'ok'),
      ${sdbmCte("kept", "doc_id", "0",
        "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))", "fph")},
      win AS (SELECT min(sid) AS doc_id FROM fph GROUP BY hash),
      ded AS (SELECT k.doc_id, k.source, k.text
              FROM kept k JOIN win ON win.doc_id = k.doc_id),
      ${spanCteSqlOver("ded")},
      keepseg AS (
        SELECT doc_id, s, e FROM (
          SELECT doc_id,
                 coalesce(lag(span_end) OVER
                   (PARTITION BY doc_id ORDER BY span_start), 0) + 1 AS s,
                 span_start - 1 AS e
          FROM spans) WHERE s <= e
        UNION ALL
        SELECT sp.doc_id, sp.mx + 1 AS s, CAST(len(dd.text) AS BIGINT) AS e
        FROM (SELECT doc_id, max(span_end) AS mx FROM spans
              GROUP BY doc_id) sp
        JOIN ded dd ON dd.doc_id = sp.doc_id
        WHERE sp.mx + 1 <= len(dd.text)),
      scrubbed AS (SELECT a.doc_id,
                  coalesce(string_agg(
                    substr(dd.text, CAST(k.s AS INT),
                           CAST(k.e - k.s + 1 AS INT)),
                    '' ORDER BY k.s), '') AS clean_text
                FROM (SELECT DISTINCT doc_id FROM spans) a
                JOIN ded dd ON dd.doc_id = a.doc_id
                LEFT JOIN keepseg k ON k.doc_id = a.doc_id
                GROUP BY a.doc_id),
      fin AS (SELECT dd.doc_id, dd.source,
                coalesce(sc.clean_text, dd.text) AS text
              FROM ded dd LEFT JOIN scrubbed sc ON sc.doc_id = dd.doc_id),
      ${sdbmCte("documents", "doc_id", "0", "CAST(doc_id AS VARCHAR)",
        "sph")},
      assigned AS (SELECT f.doc_id, f.source, f.text,
            CASE WHEN ${bucketSql("sph.hash")} < 80 THEN 'train'
                 WHEN ${bucketSql("sph.hash")} < 90 THEN 'val'
                 ELSE 'test' END AS split
          FROM fin f JOIN sph ON sph.sid = f.doc_id),
      ${sdbmCte("assigned", "doc_id", "0", "text", "mfp")}
      SELECT a.split, count(*) AS n_docs,
             CAST(sum(len(a.text)) AS BIGINT) AS n_chars,
             bit_xor(m.hash) AS content_fp
      FROM assigned a JOIN mfp m ON m.sid = a.doc_id
      GROUP BY a.split ORDER BY a.split""",
    // the fixture file is written in doc_id order (verified), so the
    // physical row index equals the doc_id rank
  )
}
