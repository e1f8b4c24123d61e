package graft.contract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.{Csv, DocGen, FileParser}
import graft.extract.TableJson.{CBool, CDouble, CLong, CNull, CStr, Cell}

/** Driver-contract queries for the non-HTML extraction arms (reference
  * FileParser, tools/file_parser.py:169-227): each query authors a real
  * document binary per row with [[DocGen]], runs the REAL parser arm
  * through [[FileParser.read]] (suffix dispatch + normalize + error
  * capture), and emits the extracted text — so generation∘extraction is a
  * SQL-expressible total function and the whole roundtrip is oracle-exact
  * against DuckDB. The parsers' behavior against INDEPENDENTLY-written
  * binaries (Python stdlib zipfile/zlib; real-pandas to_json ground truth)
  * is pinned separately by FileParserSpec's vector set.
  *
  * Payload guards mirror q_pages_extract's style: texts that the arm's
  * own semantics would rewrite (CR, leading/trailing/double spaces) are
  * excluded on BOTH sides, keeping the oracle a pure string composition.
  * The generated tables are clean of all of them, so the guards drop no
  * rows today — they pin the contract, not the data.
  */
object FileQueries {

  /** Spark-side analogue of the oracle WHERE guard: single-line,
    * tab-free, space-normalized text — the subset on which every arm's
    * generation∘extraction composition is the identity-shaped string
    * function the oracles state (newlines would be flattened by the ppt
    * arm and tabs stripped at paragraph edges by the docx arm).
    */
  private def guarded(df: DataFrame): DataFrame =
    df.filter(col("text") =!= "" &&
      !col("text").contains("\r") && !col("text").contains("\n") &&
      !col("text").contains("\t") && !col("text").contains("  ") &&
      !col("text").startsWith(" ") && !col("text").endsWith(" "))

  private[contract] val GuardPred =
    "text <> '' AND text NOT LIKE '%' || chr(13) || '%' " +
      "AND text NOT LIKE '%' || chr(10) || '%' " +
      "AND text NOT LIKE '%' || chr(9) || '%' " +
      "AND text NOT LIKE '%  %' " +
      "AND text NOT LIKE ' %' AND text NOT LIKE '% '"

  private val GuardSql = s"WHERE $GuardPred"

  /** lang/source values whose pandas-JSON rendering is plain quoting —
    * the string_agg oracles concatenate them raw, so values needing ujson
    * escapes ('"', '\', '/', controls) are excluded on BOTH sides (none
    * exist in the generated tables; the escapes themselves are pinned by
    * FileParserSpec's real-pandas vectors).
    */
  private def jsonPlain(c: org.apache.spark.sql.Column) =
    !c.contains("\"") && !c.contains("\\") && !c.contains("/") &&
      !c.rlike("[\\x00-\\x1f]")

  private val JsonPlainSql =
    Seq("lang", "source").map(c =>
      s"$c NOT LIKE '%\"%' AND $c NOT LIKE '%\\%' AND $c NOT LIKE '%/%' " +
        s"AND NOT regexp_matches($c, '[\\x00-\\x1f]')").mkString(" AND ")

  /** First 25 docs by doc_id — the bounded driver-side batch the tabular
    * single-file queries aggregate (contract scale; the at-scale shape is
    * one file per row via extractColumn, exercised by the per-row arms).
    */
  private def head25(s: SparkSession, dir: String) =
    DocsCorpusRef.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
      .filter(jsonPlain(col("lang")) && jsonPlain(col("source")))
      .orderBy(col("doc_id")).limit(25).collect()

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // word arm: python-docx paragraph semantics + strip/skip/'\n' + the
    // 3-pass normalize (file_parser.py:96-106, 224-226)
    "q_docx_extract" -> ((s, dir) => {
      val kernel = udf { (id: Long, text: String, lang: String, source: String) =>
        val bytes = DocGen.docx(Seq(text, s"lang=$lang", s"[$source] & <cite>"))
        val (t, e) = FileParser.read(s"doc_$id.docx", bytes)
        (t, e.orNull)
      }
      guarded(DocsCorpusRef.documents(s, dir))
        .withColumn("r", kernel(col("doc_id"), col("text"), col("lang"), col("source")))
        .select(col("doc_id"), col("r._1").as("extracted"), col("r._2").as("err"))
    }),

    // pdf arm: two pages, Tj/TJ/' rotation, Flate streams, escape-heavy
    // second page; pages concatenate bare (file_parser.py:53-61)
    "q_pdf_extract" -> ((s, dir) => {
      val kernel = udf { (id: Long, text: String, lang: String, source: String) =>
        val bytes = DocGen.pdf(Seq(
          Seq(text, s"($lang)"),
          Seq(s"p2 \\ $source")))
        val (t, e) = FileParser.read(s"doc_$id.pdf", bytes)
        (t, e.orNull)
      }
      // the pdf string contract is latin-1; keep the roundtrip corpus
      // printable-ASCII so the oracle stays a plain concatenation
      guarded(DocsCorpusRef.documents(s, dir))
        .filter(!col("text").rlike("[^ -~]"))
        .withColumn("r", kernel(col("doc_id"), col("text"), col("lang"), col("source")))
        .select(col("doc_id"), col("r._1").as("extracted"), col("r._2").as("err"))
    }),

    // ppt arm: slides/paragraphs joined, then the reference's newline
    // flatten (file_parser.py:210-211) + normalize
    "q_pptx_extract" -> ((s, dir) => {
      val kernel = udf { (id: Long, text: String, lang: String, source: String) =>
        val bytes = DocGen.pptx(Seq(Seq(text), Seq(s"by $source", lang)))
        val (t, e) = FileParser.read(s"deck_$id.pptx", bytes)
        (t, e.orNull)
      }
      guarded(DocsCorpusRef.documents(s, dir))
        .withColumn("r", kernel(col("doc_id"), col("text"), col("lang"), col("source")))
        .select(col("doc_id"), col("r._1").as("extracted"), col("r._2").as("err"))
    }),

    // epub arm: OCF chain -> xhtml items joined '\n' -> soup text, and NO
    // normalize (process_epub is standalone, file_parser.py:152-166)
    "q_epub_extract" -> ((s, dir) => {
      val kernel = udf { (id: Long, text: String, lang: String) =>
        val bytes = DocGen.epub(Seq(text, s"fin $lang"))
        val (t, e) = FileParser.read(s"book_$id.epub", bytes)
        (t, e.orNull)
      }
      guarded(DocsCorpusRef.documents(s, dir))
        .withColumn("r", kernel(col("doc_id"), col("text"), col("lang")))
        .select(col("doc_id"), col("r._1").as("extracted"), col("r._2").as("err"))
    }),

    // markdown arm: process_markdown composition (header-split, header
    // prefix, lowercase, min-length; file_parser.py:122-149) over a
    // two-section document — both bodies under the 1024 re-split bound,
    // so the whole chain is a pure string composition
    "q_markdown_chunks" -> ((s, dir) => {
      val mdDocs = guarded(DocsCorpusRef.documents(s, dir))
        // the oracle states the plain emit branch: body length in
        // [10, 1000) keeps clear of both the 10-char floor and the
        // 1024-char re-split; '#' at line start would read as a header
        .filter(!col("text").startsWith("#") &&
          length(col("text")) >= 10 && length(col("text")) < 1000)
        .withColumn("md", concat(
          lit("# T"), col("doc_id"), lit("\nintro for "), col("source"),
          lit("\n## sec "), col("lang"), lit("\n"), col("text")))
      graft.text.MarkdownChunks.chunks(mdDocs, "md")
        .select(col("doc_id"), col("chunk_pos"), col("chunk_text"))
    }),

    // multi-format ingest end-to-end: each document is authored as a real
    // binary (format rotating docx/pdf/html by doc_id), extracted back
    // through FileParser, tokenized, packed-indexed, and served by the
    // block-max WAND kernel. Extraction is token-identity on this corpus
    // (roundtrip arms add only a trailing newline), so the oracle is the
    // STANDARD exhaustive BM25 chain over the raw table — proving the
    // format arms compose into the north-rule pipeline without touching
    // ranking semantics. Guard subset mirrored in the oracle ctes.
    "q_multiformat_wand" -> ((s, dir) => {
      val kernel = udf { (id: Long, text: String) =>
        val payload = (id % 3) match {
          case 0 => ("docx", DocGen.docx(Seq(text)))
          case 1 => ("pdf", DocGen.pdf(Seq(Seq(text))))
          case _ => ("html",
            s"<html><body><p>${DocGen.xmlEscape(text)}</p></body></html>"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        val (t, e) = FileParser.read(s"doc_$id.${payload._1}", payload._2)
        require(e.isEmpty, s"extraction failed for doc $id: $e")
        t
      }
      val extracted = guarded(DocsCorpusRef.documents(s, dir))
        .select(col("doc_id"), kernel(col("doc_id"), col("text")).as("text"))
      val tokenized = graft.index.InvertedIndex.tokenize(
        extracted, "doc_id", "text", exact = false)
      graft.SparkEntry.wandContractTopKFrom(s, tokenized) { idx =>
        graft.query.Wand.search(s, idx, graft.SparkEntry.contractQueryBatch, k = 200)
      }
    }),

    // excel/csv arm: one csv of the first 25 docs, a NaN-bearing column
    // dropped by dropna(axis=1), pandas to_json output
    // (file_parser.py:109-119)
    "q_csv_json" -> ((s, dir) => {
      import s.implicits._
      val rows = head25(s, dir)
      val csv = DocGen.csv(
        Seq("doc_id", "lang", "n_chars", "source", "gap"),
        rows.zipWithIndex.map { case (r, i) =>
          Seq(r.getLong(0).toString, r.getString(1), r.getLong(2).toString,
            r.getString(3), if (i == 7) null else s"g$i")
        }.toSeq)
      val (json, err) = FileParser.read("docs.csv", csv)
      Seq((json, err.orNull)).toDF("json_text", "err")
    }),

    // excel/xlsx arm: same 25 docs as typed cells — int, string, a dyadic
    // double (n_chars/4, exact in both double and decimal), a bool, and a
    // gap column that dropna removes
    "q_xlsx_json" -> ((s, dir) => {
      import s.implicits._
      val rows = head25(s, dir)
      val xlsx = DocGen.xlsx(
        Seq("doc_id", "lang", "q", "even", "gap"),
        rows.zipWithIndex.map { case (r, i) =>
          val n = r.getLong(2)
          Seq[Cell](CLong(r.getLong(0)), CStr(r.getString(1)),
            CDouble(n * 0.25), CBool(n % 2 == 0),
            if (i == 7) CNull else CStr(s"g$i"))
        }.toSeq)
      val (json, err) = FileParser.read("docs.xlsx", xlsx)
      Seq((json, err.orNull)).toDF("json_text", "err")
    })
  )

  private def aggSql(expr: String): String =
    s"string_agg($expr, ',' ORDER BY rn)"

  private def Head25Cte =
    s"""WITH d AS (
       |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rn,
       |         doc_id, lang, n_chars, source
       |  FROM documents
       |  WHERE $JsonPlainSql
       |  ORDER BY doc_id LIMIT 25
       |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_docx_extract" ->
      s"""SELECT doc_id,
         |       text || chr(10) || 'lang=' || lang || chr(10) ||
         |       '[' || source || '] & <cite>' || chr(10) AS extracted,
         |       CAST(NULL AS VARCHAR) AS err
         |FROM documents
         |$GuardSql""".stripMargin,

    "q_pdf_extract" ->
      s"""SELECT doc_id,
         |       text || chr(10) || '(' || lang || ')' || chr(10) ||
         |       'p2 \\ ' || source || chr(10) AS extracted,
         |       CAST(NULL AS VARCHAR) AS err
         |FROM documents
         |$GuardSql
         |  AND NOT regexp_matches(text, '[^ -~]')""".stripMargin,

    "q_pptx_extract" ->
      s"""SELECT doc_id,
         |       text || ' by ' || source || ' ' || lang AS extracted,
         |       CAST(NULL AS VARCHAR) AS err
         |FROM documents
         |$GuardSql""".stripMargin,

    "q_epub_extract" ->
      s"""SELECT doc_id,
         |       text || chr(10) || 'fin ' || lang AS extracted,
         |       CAST(NULL AS VARCHAR) AS err
         |FROM documents
         |$GuardSql""".stripMargin,

    // chunk content is lowercased (headers are not) — hence lower(source)
    // in chunk 0 and lower(text) in chunk 1, while 'T'||doc_id and lang
    // ride the header prefix untouched
    "q_markdown_chunks" ->
      s"""WITH g AS (
         |  SELECT * FROM documents
         |  $GuardSql
         |    AND text NOT LIKE '#%'
         |    AND length(text) >= 10 AND length(text) < 1000
         |)
         |SELECT doc_id, CAST(0 AS INT) AS chunk_pos,
         |       'T' || doc_id || ' intro for ' || lower(source) AS chunk_text
         |FROM g
         |UNION ALL
         |SELECT doc_id, CAST(1 AS INT) AS chunk_pos,
         |       'T' || doc_id || ' sec ' || lang || ' ' || lower(text) AS chunk_text
         |FROM g""".stripMargin,

    // the STANDARD exhaustive BM25 top-10 oracle, with the corpus ctes
    // restricted to the guard subset the ingest query indexes — extraction
    // being token-identity, ranking must equal raw-text BM25 exactly
    "q_multiformat_wand" -> graft.SparkEntry.bm25TopKOracleSql(
      graft.DocsCorpus.oracleCorpusCtesWhere(GuardPred)),

    "q_csv_json" ->
      s"""$Head25Cte
         |SELECT '{"doc_id":{' || ${aggSql("'\"' || rn || '\":' || doc_id")} ||
         |       '},"lang":{' || ${aggSql("'\"' || rn || '\":\"' || lang || '\"'")} ||
         |       '},"n_chars":{' || ${aggSql("'\"' || rn || '\":' || n_chars")} ||
         |       '},"source":{' || ${aggSql("'\"' || rn || '\":\"' || source || '\"'")} ||
         |       '}}' AS json_text,
         |       CAST(NULL AS VARCHAR) AS err
         |FROM d""".stripMargin,

    // the dyadic double renders exactly: int part || one of .0/.25/.5/.75
    "q_xlsx_json" ->
      s"""$Head25Cte
         |SELECT '{"doc_id":{' || ${aggSql("'\"' || rn || '\":' || doc_id")} ||
         |       '},"lang":{' || ${aggSql("'\"' || rn || '\":\"' || lang || '\"'")} ||
         |       '},"q":{' || ${aggSql(
             "'\"' || rn || '\":' || CAST(n_chars // 4 AS VARCHAR) || " +
             "CASE CAST(n_chars % 4 AS INT) WHEN 0 THEN '.0' WHEN 1 THEN '.25' " +
             "WHEN 2 THEN '.5' ELSE '.75' END")} ||
         |       '},"even":{' || ${aggSql(
             "'\"' || rn || '\":' || CASE WHEN n_chars % 2 = 0 THEN 'true' ELSE 'false' END")} ||
         |       '}}' AS json_text,
         |       CAST(NULL AS VARCHAR) AS err
         |FROM d""".stripMargin
  )
}

/** Local alias so this file doesn't depend on where DocsCorpus lives. */
private object DocsCorpusRef {
  def documents(s: SparkSession, dir: String): DataFrame =
    graft.DocsCorpus.documents(s, dir)
}
