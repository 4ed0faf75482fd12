package graft.queries

import org.apache.spark.sql.functions._

import graft.ingest.{FeedSynth, HitParser}
import graft.model.Schemas
import graft.session.Sessionize
import graft.sources.Tables

/**
 * The reference's actual ingest surface, oracle-checked end-to-end
 * (SURVEY.md §2 S1/O1/O1a + O10): reference-format TSV lines are built
 * deterministically from `events` ([[FeedSynth]]), parsed by
 * [[HitParser]] — exercising the ≥10-column gate, the numeric-ts gate, and
 * the product-SKU extraction with all three planted drop paths — then
 * sessionized and formatted as the reference's 12-field hits export
 * (`main.py:104-107`).
 *
 * The DuckDB oracle replays the identical line-build + split + filters, so
 * the parser's whole observable contract (including what gets DROPPED) is
 * hash-compared, not just spot-checked.
 */
object IngestQueries {

  /** TSV roundtrip: synth lines → HitParser → typed hits (drops included). */
  val qTsvParse = Q(
    "q_tsv_parse",
    // repartition: the line-build + parse is pure map work; balancing it
    // across tasks costs one exchange of compact rows and keeps a
    // single-split local scan from serializing the whole parse (explicit
    // count — AQE byte-coalescing would undo it, see distributeBy)
    (s, dir) => HitParser.parse(FeedSynth.synthLines(
      distributeBy(Tables.events(s, dir), col("event_id")))),
    Some(s"""${FeedSynth.parsedHitsCte}
      |SELECT * FROM hits""".stripMargin)
  )

  /** The reference's hits.csv line (12 fields, `main.py:104-107` order):
    * parsed hits sessionized at 30 min on second-resolution timestamps,
    * visit_key = user_id + "_" + visit_start — string seconds, exactly the
    * reference's key derivation (`main.py:122`). */
  val qHitsExport = Q(
    "q_hits_export",
    (s, dir) => {
      val parsed = HitParser.parse(FeedSynth.synthLines(
        distributeBy(Tables.events(s, dir), col("event_id"))))
      Sessionize
        .withSessionIds(parsed, gapUs = 1800L, tsUsCol = "ts")
        .select(concat_ws(",", Schemas.hitsExportColumns.map(col): _*).as("line"))
    },
    Some(s"""${FeedSynth.parsedHitsCte},
      |g AS (
      |  SELECT *, CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= 1800
      |            THEN 1 ELSE 0 END AS brk
      |  FROM hits
      |), sess AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM g
      |), v AS (
      |  SELECT *, MIN(ts) OVER (PARTITION BY user_id, sid) AS vs FROM sess
      |)
      |SELECT user_id || '_' || CAST(vs AS VARCHAR) || ',' ||
      |       CAST(ts AS VARCHAR) || ',' || site_server || ',' ||
      |       tracking_code || ',' || page || ',' || line_number || ',' ||
      |       CAST(pdp_view AS VARCHAR) || ',' || CAST(atb AS VARCHAR) || ',' ||
      |       CAST(bag_view AS VARCHAR) || ',' || CAST(checkout AS VARCHAR) || ',' ||
      |       CAST(payment AS VARCHAR) || ',' || CAST("order" AS VARCHAR) AS line
      |FROM v""".stripMargin)
  )

  /**
   * Per-column DATA PROFILE of the documents table — the first
   * operator an ingest pipeline runs on a new drop: null counts and
   * exact distinct cardinalities for every column, as rows. One pass:
   * a single multi-aggregate (Spark plans the distinct set via one
   * Expand — no per-column rescan), then `stack` pivots the scalar
   * row into the (col_name, n_nulls, n_distinct) report. At 100 TB
   * exact distincts would swap for the HLL register path
   * (`q_hll_registers`); the exact form is the oracle-checkable
   * contract of the profile itself.
   */
  val qProfileColumns = Q(
    "q_profile_columns",
    (s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val aggs = d.columns.flatMap { c =>
        Seq(sum(col(c).isNull.cast("long")).as(s"nn_$c"),
            countDistinct(col(c)).as(s"nd_$c"))
      }
      val cells = d.columns
        .map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
      d.agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${d.columns.length}, $cells) " +
                    "as (col_name, n_nulls, n_distinct)")
    },
    Some("""SELECT 'doc_id' AS col_name,
      |       CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_nulls,
      |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct
      |FROM documents
      |UNION ALL SELECT 'text', CAST(COUNT(*) - COUNT(text) AS BIGINT),
      |       CAST(COUNT(DISTINCT text) AS BIGINT) FROM documents
      |UNION ALL SELECT 'lang', CAST(COUNT(*) - COUNT(lang) AS BIGINT),
      |       CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents
      |UNION ALL SELECT 'source', CAST(COUNT(*) - COUNT(source) AS BIGINT),
      |       CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents
      |UNION ALL SELECT 'n_chars', CAST(COUNT(*) - COUNT(n_chars) AS BIGINT),
      |       CAST(COUNT(DISTINCT n_chars) AS BIGINT) FROM documents"""
      .stripMargin)
  )

  /** The dead-letter complement of [[qTsvParse]]: the dropped lines
    * with first-failing-rule reason codes ([[HitParser.quarantine]]) —
    * same synthesized feed, so the gate proves rejects + parses
    * partition the input under the driver's independent replay. */
  val qTsvQuarantine = Q(
    "q_tsv_quarantine",
    (s, dir) => HitParser.quarantine(FeedSynth.synthLines(
      distributeBy(Tables.events(s, dir), col("event_id")))),
    Some(s"""${FeedSynth.parsedHitsCte},
      |bad AS (
      |  SELECT value AS line,
      |         CASE
      |           WHEN len(string_split(value, chr(9))) < 10 THEN 'short_row'
      |           WHEN NOT regexp_matches(string_split(value, chr(9))[1],
      |                                   '^[0-9]+$$') THEN 'bad_ts'
      |           WHEN string_split(value, chr(9))[5] <> ''
      |                AND len(string_split(string_split(value, chr(9))[5],
      |                                     ';')) < 2 THEN 'bad_product'
      |         END AS reason
      |  FROM raw
      |)
      |SELECT line, reason FROM bad WHERE reason IS NOT NULL""".stripMargin)
  )

  // ------------------------------------------- JSONL.gz FILE ingestion

  /** Shard count for the planted `.jsonl.gz` corpus files — the
    * binaryFile scan parallelizes by FILE (one task per container),
    * which is exactly how corpus dumps shard; a real interchange drop
    * has thousands of ~100 MB files and this reader's cost scales with
    * the file count, never the driver. */
  private val JsonlFileCount = 32

  /** Adversarial text tail planted for `doc_id % 3 = 1`: raw newline +
    * double quote + tab + a multi-byte codepoint — every character
    * class the JSON encoder must escape (or carry as multi-byte UTF-8
    * through the gzip leg). With the tail in play, LINE framing is
    * only safe because `to_json` escapes the newline — a writer that
    * didn't escape (or a reader that unescaped before splitting)
    * mis-frames exactly these documents and hash-mismatches. */
  private val JsonlTail = "\n\"x\t café"
  private val JsonlTailSql =
    "chr(10) || '\"x' || chr(9) || ' caf' || chr(233)"

  /** The planted corpus frame shared by writer and oracle: complete
    * rows only (an interchange dump carries no half-records — nulls
    * are the PARSER's output domain, for malformed lines), with the
    * escape-class tail on every third document. */
  private def jsonlDocs(s: org.apache.spark.sql.SparkSession,
                        sfDir: String): org.apache.spark.sql.DataFrame =
    Tables.read(s, sfDir, "documents")
      .filter(col("text").isNotNull && col("lang").isNotNull &&
              col("n_chars").isNotNull)
      .select(col("doc_id"), col("lang"),
              when(pmod(col("doc_id"), lit(3)) === 1,
                   concat(col("text"), lit(JsonlTail)))
                .otherwise(col("text")).as("text"),
              col("n_chars"))

  private val JsonlDocsWhereSql =
    "text IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL"
  private val JsonlTextSql =
    s"CASE WHEN doc_id % 3 = 1 THEN text || $JsonlTailSql ELSE text END"

  /** Build the `.jsonl.gz` corpus FILES for a testdata dir, once per
    * state of the corpus ([[LayoutQueries.memo]])
    * — the [[graft.queries.WebQueries]] warcFilesDir discipline over
    * the OTHER interchange format corpora actually ship in: one JSON
    * object per line (`to_json` over the typed struct), whole file one
    * gzip stream, records hashed to [[JsonlFileCount]] shards by
    * doc_id. For `doc_id % 13 = 5` a CORRUPT line is planted after the
    * good one (the JSON truncated mid-string — never parseable), so
    * the reader's malformed-line rejection is hash-load-bearing, not
    * assumed. Distributed `foreachPartition` write, one shard per
    * task, no driver collect at any corpus size. */
  private[graft] def jsonlFilesDir(s: org.apache.spark.sql.SparkSession,
                                   sfDir: String): String =
    LayoutQueries.memo(s, sfDir, "jsonlfiles") { dir =>
      val root = new org.apache.hadoop.fs.Path(dir)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(root)
      val lines = jsonlDocs(s, sfDir)
        .select(col("doc_id"),
                to_json(struct(col("doc_id"), col("lang"), col("text"),
                               col("n_chars"))).as("line"))
        .select(pmod(col("doc_id"), lit(JsonlFileCount)).cast("int")
                  .as("fk"),
                col("doc_id"), lit(1).as("line_idx"), col("line"))
        .unionAll(
          jsonlDocs(s, sfDir)
            .filter(pmod(col("doc_id"), lit(13)) === 5)
            .select(col("doc_id"),
                    substring(to_json(struct(col("doc_id"), col("lang"),
                                             col("text"), col("n_chars"))),
                              1, 25).as("line"))
            .select(pmod(col("doc_id"), lit(JsonlFileCount)).cast("int")
                      .as("fk"),
                    col("doc_id"), lit(2).as("line_idx"), col("line")))
      val dirStr = dir
      val confKv = WebQueries.hadoopConfKv(s)
      lines.repartition(JsonlFileCount, col("fk"))
        .sortWithinPartitions("fk", "doc_id", "line_idx")
        .select(col("fk"), encode(col("line"), "UTF-8").as("line"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          if (it.hasNext) {
            // driver-conf rebuild, not a default Configuration(): keeps
            // session filesystem settings (s3a creds etc.) at task level
            val tfs = new org.apache.hadoop.fs.Path(dirStr)
              .getFileSystem(WebQueries.hadoopConfOf(confKv))
            var cur = -1
            var out: java.util.zip.GZIPOutputStream = null
            try {
              it.foreach { row =>
                val fk = row.getInt(0)
                if (fk != cur) { // shard-sorted rows: one open per shard
                  if (out != null) out.close()
                  out = new java.util.zip.GZIPOutputStream(
                    tfs.create(new org.apache.hadoop.fs.Path(
                      dirStr, f"part-$fk%05d.jsonl.gz"), true), 65536)
                  cur = fk
                }
                out.write(row.getAs[Array[Byte]](1))
                out.write('\n')
              }
            } finally if (out != null) out.close()
          }
        }
    }

  /** The JSONL parse chain over a binary `content` column of container
    * bytes: strict gunzip ([[WebQueries.gunzipCol]] — a torn file
    * decodes to an accountable null, never an exception), newline
    * framing (safe BECAUSE the writer escaped — the [[JsonlTail]]
    * plant), `from_json` against the typed schema, and the
    * drop-malformed discipline: only FULLY-parsed rows survive.
    * All-fields-non-null is the complete-parse test by construction —
    * the planted corpus carries no null fields, so a null can only
    * mean `from_json` failed (partial results included:
    * `spark.sql.json.enablePartialResults` may salvage a truncated
    * line's doc_id, but never its text). Stateless per file row, so
    * the streaming face applies it verbatim. */
  private[graft] def jsonlFilesParse(
      bin: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType), StructField("n_chars", LongType)))
    bin.select(explode(split(WebQueries.gunzipCol(col("content")), "\n"))
                 .as("line"))
      .filter(length(col("line")) > 0)
      .select(from_json(col("line"), schema).as("j"))
      .filter(col("j.doc_id").isNotNull && col("j.lang").isNotNull &&
              col("j.text").isNotNull && col("j.n_chars").isNotNull)
      .select(col("j.doc_id").as("doc_id"), col("j.lang").as("lang"),
              col("j.text").as("text"), col("j.n_chars").as("n_chars"))
  }

  /**
   * JSONL.gz corpus-file ingestion — the interchange format training
   * corpora actually ship in, read from REAL files (`binaryFile` scan,
   * one task per container): gunzip → line-frame → `from_json` →
   * drop-malformed. The oracle never sees the files — it selects the
   * planted rows straight from `documents` — so the whole
   * write-escape-compress-read-parse loop must be lossless to
   * hash-match: the escape-class tail (`doc_id % 3 = 1`) proves
   * framing + escape round trip, the truncated-JSON plant
   * (`doc_id % 13 = 5`) proves malformed lines are dropped rather
   * than half-parsed, and the multi-byte codepoints prove the gzip
   * leg is octet-exact.
   */
  lazy val qJsonlFiles = Q(
    "q_jsonl_files",
    (s, dir) =>
      jsonlFilesParse(
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.jsonl.gz")
          .load(jsonlFilesDir(s, dir))
          .select(col("content"))),
    Some(s"""SELECT doc_id, lang, $JsonlTextSql AS text, n_chars
      |FROM documents WHERE $JsonlDocsWhereSql""".stripMargin)
  )

  val all: Seq[Q] = Seq(qTsvParse, qHitsExport, qProfileColumns,
                        qTsvQuarantine, qJsonlFiles)
}
