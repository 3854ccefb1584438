package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, when}
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
import graft.ops.{Manifest, SessionMemo}

/** CSV and JSON-lines manifest sources — the interchange formats a real
  * ingestion pipeline receives manifests in (the reference consumes only
  * its MySQL table; these extend the same source surface the §2.1
  * `source_jdbc` row established).
  *
  * Spark-native: DataSource csv/json scans with an EXPLICIT schema —
  * schema inference is a full extra pass over the data at 100 TB and is
  * type-unstable (a later file can widen a column); reads split by file
  * block, column pruning and filters push into the scan like any
  * file-based source.
  *
  * Each registry query is a write-once (memoized per session/dir) →
  * read-back round-trip that must reproduce the manifest EXACTLY —
  * hash-gated against the same DuckDB manifest CTE as `source_jdbc`. */
object FileFormats {

  private val memo = new SessionMemo[String, String]

  val manifestSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("uploaded", BooleanType, nullable = false)))

  private def ensureWritten(s: SparkSession, d: String): String =
    memo.inTempDir(s, d, "graft-fmt") { root =>
      val m = Manifest.fromDocuments(s, d)
      m.write.mode("overwrite").option("header", "true").csv(s"$root/csv")
      m.write.mode("overwrite").json(s"$root/json")
      m.write.mode("overwrite").orc(s"$root/orc")
      // a DIRTY csv: every 13th row is truncated to two fields (the
      // short-row corruption real feeds ship); written as raw text so
      // the malformation survives the writer.
      m.select(when(col("id") % 13 === 0,
          concat(col("id"), lit(","), col("path")))
        .otherwise(concat(col("id"), lit(","), col("path"),
          lit(","), col("uploaded")))
        .as("value"))
        .write.mode("overwrite").text(s"$root/dirty")
      // raw LOG-LINE form (tab-separated), for the text-source reader
      m.select(concat(col("id"), lit("\t"), col("path"),
          lit("\t"), col("uploaded")).as("value"))
        .write.mode("overwrite").text(s"$root/lines")
      root
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_csv" -> ((s, d) => {
      val root = ensureWritten(s, d)
      s.read.schema(manifestSchema).option("header", "true")
        .csv(s"$root/csv").orderBy("id")
    }),
    "source_json" -> ((s, d) => {
      val root = ensureWritten(s, d)
      s.read.schema(manifestSchema).json(s"$root/json").orderBy("id")
    }),
    // ORC round-trip — the second columnar interchange format (typed
    // footers, predicate pushdown and column pruning like parquet).
    "source_orc" -> ((s, d) => {
      val root = ensureWritten(s, d)
      s.read.schema(manifestSchema).orc(s"$root/orc").orderBy("id")
    }),
    // malformed-row tolerance: the dirty feed (every 13th row truncated)
    // read under DROPMALFORMED must yield EXACTLY the clean rows — the
    // ingestion never aborts on a bad line and never invents nulls. At
    // 100 TB this is the difference between a resumable nightly feed
    // and a 3 a.m. page; mode=PERMISSIVE + columnNameOfCorruptRecord is
    // the quarantine variant of the same reader.
    "source_csv_malformed" -> ((s, d) => {
      val root = ensureWritten(s, d)
      s.read.schema(manifestSchema).option("mode", "DROPMALFORMED")
        .csv(s"$root/dirty").orderBy("id")
    }),
    // raw text-line source: spark.read.text + explicit split parsing —
    // the "server log" ingestion path where no structured reader
    // applies; the parse is ordinary codegen'd expressions, so at
    // 100 TB it stays in the scan stage (reads split by file block,
    // only the parsed columns survive the projection).
    "source_text" -> ((s, d) => {
      val root = ensureWritten(s, d)
      val sp = org.apache.spark.sql.functions.split(col("value"), "\t")
      s.read.text(s"$root/lines")
        .select(sp.getItem(0).cast("long").as("id"),
          sp.getItem(1).as("path"),
          sp.getItem(2).cast("boolean").as("uploaded"))
        .orderBy("id")
    }),
    // two parquet generations with DIFFERENT schemas read as one table.
    "source_schema_evolution" -> ((s, d) => {
      val root = ensureEvolved(s, d)
      s.read.option("mergeSchema", "true")
        .parquet(s"$root/v1", s"$root/v2")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    })
  )

  private val evoMemo = new SessionMemo[String, String]

  /** Schema EVOLUTION fixture: the corpus written as two parquet
    * "generations" with different column sets — v1 (even doc_ids) has
    * (doc_id, text, lang), v2 (odd doc_ids) dropped `lang` and gained
    * (source, n_chars), the way a crawler's output schema actually
    * drifts between runs. `mergeSchema` reads the two directories as
    * ONE table with the union-by-name schema, NULL-filling each side's
    * missing columns — the 100 TB reality where re-writing old
    * generations to the new schema is not an option. (mergeSchema costs
    * a footer read per file at planning; a production lake pins the
    * merged schema in a catalog instead — semantics identical, which is
    * what the oracle checks.) */
  private def ensureEvolved(s: SparkSession, d: String): String =
    evoMemo.inTempDir(s, d, "graft-evo") { root =>
      val docs = graft.model.Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$root/v1")
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$root/v2")
      root
    }

  def oracle: Map[String, String] = Map(
    "source_csv" -> graft.model.OracleSql.manifestSelect,
    "source_json" -> graft.model.OracleSql.manifestSelect,
    "source_orc" -> graft.model.OracleSql.manifestSelect,
    "source_text" -> graft.model.OracleSql.manifestSelect,
    // the clean complement of the planted short rows.
    "source_csv_malformed" -> (graft.model.OracleSql.manifestCte +
      "\nSELECT id, path, uploaded FROM manifest WHERE id % 13 <> 0" +
      " ORDER BY id"),
    // union-by-name with NULL-filled absent columns, exactly what the
    // merged read must produce.
    "source_schema_evolution" ->
      """SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source,
        |       CAST(NULL AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS VARCHAR) AS lang, source, n_chars
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin
  )
}
