package graft.operators

import graft.Exprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch raw-zone sources (SURVEY.md §2 A2/A3 batch form, B1-B4, D10):
  * the reference's bucket scans (`backfill/api_to_gcs-backfill.py:128-136`,
  * `data_validation/api_to_gcs-checker.py:20-25`) as parquet/JSON directory
  * scans with file-provenance columns.
  *
  * Scale notes: one `spark.read.json` over the zone directory — listing is
  * distributed, schema is explicit (no inference pass), and
  * `input_file_name()` gives per-row provenance without a second scan.
  */
object Ingest {

  /** A2 — batch scan of a JSON raw zone with blob-name provenance. */
  def readRawZone(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .withColumn("blob_name", input_file_name())

  /** D10 — derive the work-set keys from the blob-name convention. */
  def withFilenameKeys(df: DataFrame): DataFrame =
    df.withColumn("dados_id", Exprs.fileDadosId(col("blob_name")))
      .withColumn("data_type", Exprs.fileDataType(col("blob_name")))
      .withColumn("file_ts", Exprs.fileTimestamp(col("blob_name")))
      .withColumn("file_uuid", Exprs.fileUuid(col("blob_name")))

  /** A2+E2 — the backfill's processed-id set: distinct ids parsed from the
    * zone listing (`backfill/api_to_gcs-backfill.py:128-136`). */
  def processedIdSet(df: DataFrame): DataFrame =
    withFilenameKeys(df).select("dados_id").where(col("dados_id") =!= "").distinct()

  /** Fixed staging path shared with [[zoneScanSql]] — the oracle must read
    * the SAME files DuckDB-side (`read_json(..., filename=true)`). */
  val zoneDir = "/tmp/graft_rawzone"

  /** Number of staged blobs — fixed, so the zone content is independent of
    * the scale factor: a Bench run at sf0.1 between a Verify dump and the
    * driver's DuckDB compare must NOT change what the oracle reads. */
  private val ZoneFiles = 500

  /** A2/D10 end to end over a REAL file zone (not a synthesized filename
    * column): one JSON blob per synthetic order, named by the reference's
    * blob convention (`api_to_gcs/main.py:229-233`), scanned with
    * `input_file_name()` provenance and the filename keys cross-checked
    * against the payload. Blob content is a pure function of the blob
    * index (no dependence on sfDir), and staging is idempotent — if the
    * zone is already complete it is left untouched — so Spark and the
    * DuckDB oracle always read identical bytes regardless of run order. */
  def zoneScan(spark: SparkSession, sfDir: String): DataFrame = {
    stageZone()
    val df = withFilenameKeys(
      readRawZone(spark, zoneDir, graft.streaming.Streaming.webhookSchema))
    df.select(col("dados_id").cast("long").as("dados_id"), col("data_type"),
      col("file_ts"), col("file_uuid"),
      col("dados.id").as("payload_id"), col("dados.uuid").as("payload_uuid"),
      col("dados.valor").as("valor"),
      (col("dados_id") === col("dados.id").cast("string")).as("key_matches_payload"))
      .orderBy("dados_id")
  }

  /** Content-version manifest: bump when the generator changes. The
    * staged-zone skip checks version AND file count — a zone staged by an
    * older generator (different content) or a partial staging restages;
    * without the version a leftover zone from a previous code version
    * would silently violate the pure-function-of-index invariant. */
  private val ZoneManifest = s"graft-zone-v2:$ZoneFiles"

  /** Shared idempotent-staging skeleton for every fixture zone: skip when
    * the manifest AND file count say the zone is complete, otherwise tear
    * down, regenerate via `write`, and write the manifest LAST so a crash
    * mid-staging always restages. One copy of the protocol — a fix here
    * (e.g. to the completeness check) reaches every zone. */
  private def stageFixtureZone(dir: String, manifestContent: String,
      ext: String, nFiles: Long)(write: java.nio.file.Path => Unit): Unit = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(dir)
    val manifest = root.resolve("_MANIFEST")
    if (Files.isDirectory(root)) {
      val stream = Files.list(root)
      val complete = try {
        Files.isRegularFile(manifest) &&
          Files.readString(manifest) == manifestContent &&
          stream.filter(_.toString.endsWith(ext)).count() == nFiles
      } finally stream.close()
      if (complete) return
      Staged.rmTree(root.toFile)
    }
    Files.createDirectories(root)
    write(root)
    Files.writeString(manifest, manifestContent) // written LAST: marks complete
  }

  private def stageZone(): Unit =
    stageFixtureZone(zoneDir, ZoneManifest, ".json", ZoneFiles) { root =>
      import java.nio.file.Files
      (1 to ZoneFiles).foreach { i =>
        val id = i * 7L // synthetic order key, content derived only from i
        val valor = (i * 131 % 9000) / 100.0 + 1.0
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val uuid = s"${h.substring(0, 8)}-${h.substring(8, 12)}-" +
          s"${h.substring(12, 16)}-${h.substring(16, 20)}-${h.substring(20, 32)}"
        Files.writeString(root.resolve(s"z316-tiny-api-$id-pdv-20240305T141000-$uuid.json"),
          s"""{"versao":"1.0","cnpj":"1","tipo":"inclusao_pedido","dados":{"id":$id,"uuid":"u$id","valor":$valor,"event_ts":"2024-01-01 00:00:00"}}""")
      }
    }

  val zoneScanSql: String =
    s"""SELECT CAST(regexp_extract(filename, 'z316-tiny-api-(\\d+)-', 1) AS BIGINT) AS dados_id,
      |  regexp_extract(filename, '-(pdv|pesquisa|produto)-', 1) AS data_type,
      |  regexp_extract(filename, '-(\\d{8}T\\d{6})-', 1) AS file_ts,
      |  regexp_extract(filename, '-([0-9a-f-]{36})\\.json$$', 1) AS file_uuid,
      |  dados.id AS payload_id, dados.uuid AS payload_uuid,
      |  dados.valor AS valor,
      |  CAST(regexp_extract(filename, 'z316-tiny-api-(\\d+)-', 1) AS BIGINT) = dados.id
      |    AS key_matches_payload
      |FROM read_json('$zoneDir/*.json', filename=true,
      |  columns={'versao': 'VARCHAR', 'cnpj': 'VARCHAR', 'tipo': 'VARCHAR',
      |    'dados': 'STRUCT(id BIGINT, uuid VARCHAR, valor DOUBLE, event_ts VARCHAR)'})
      |ORDER BY dados_id""".stripMargin

  /** Fixed staging path shared with [[csvZoneScanSql]]. */
  val csvZoneDir = "/tmp/graft_csvzone"

  private val CsvPages = 5
  private val CsvRowsPerPage = 100
  private val CsvZoneManifest = s"graft-csvzone-v1:$CsvPages×$CsvRowsPerPage"

  /** A4/E1/D6 over a REAL paginated CSV export — the contatos dimension's
    * page-per-file snapshot (`contatos_to_bq/main.py:134-145` walks
    * `pagina=1..n`; here each page is one CSV blob), read with an explicit
    * schema (no inference — schema drift must fail loudly, not re-type a
    * column), page provenance from `input_file_name()`, and the BR date
    * normalization with its parse-failure pass-through applied to a csv
    * column. Content is a pure function of the row index and staging is
    * idempotent+versioned, exactly like the JSON zone, so both engines
    * always read identical bytes. */
  def csvZoneScan(spark: SparkSession, sfDir: String): DataFrame = {
    stageCsvZone()
    val schema = "id LONG, nome STRING, cidade STRING, data_nascimento STRING, valor DOUBLE"
    spark.read.schema(schema).option("header", "true").csv(csvZoneDir)
      .withColumn("page",
        regexp_extract(input_file_name(), "contatos-page-(\\d+)\\.csv", 1).cast("long"))
      .select(col("id"), col("nome"), col("cidade"), col("page"),
        Exprs.brDate(col("data_nascimento")).as("data_norm"),
        col("valor"))
      .orderBy("id")
  }

  private def stageCsvZone(): Unit =
    stageFixtureZone(csvZoneDir, CsvZoneManifest, ".csv", CsvPages) { root =>
      import java.nio.file.Files
      val cidades = Array("Goiania", "Anapolis", "Brasilia", "Rio Verde")
      (1 to CsvPages).foreach { page =>
        val rows = (1 to CsvRowsPerPage).map { j =>
          val i = (page - 1) * CsvRowsPerPage + j
          // every 10th row carries an unparseable date → D6 pass-through
          val data = if (i % 10 == 0) "n/d"
          else f"${1 + i % 28}%02d/${1 + i % 12}%02d/${1970 + i % 30}%04d"
          val valor = (i * 37 % 5000) / 100.0 + 1.0
          s"${i * 3},Contato $i,${cidades(i % 4)},$data,$valor"
        }
        Files.writeString(root.resolve(s"contatos-page-$page.csv"),
          "id,nome,cidade,data_nascimento,valor\n" + rows.mkString("\n") + "\n")
      }
    }

  val csvZoneScanSql: String =
    s"""SELECT id, nome, cidade,
      |  CAST(regexp_extract(filename, 'contatos-page-(\\d+)\\.csv', 1) AS BIGINT)
      |    AS page,
      |  COALESCE(strftime(try_strptime(data_nascimento, '%d/%m/%Y'), '%Y-%m-%d'),
      |    data_nascimento) AS data_norm,
      |  valor
      |FROM read_csv('$csvZoneDir/*.csv', filename=true, header=true,
      |  columns={'id': 'BIGINT', 'nome': 'VARCHAR', 'cidade': 'VARCHAR',
      |    'data_nascimento': 'VARCHAR', 'valor': 'DOUBLE'})
      |ORDER BY id""".stripMargin

  /** Fixed staging path shared with [[schemaDriftScanSql]]. */
  val evoZoneDir = "/tmp/graft_evozone"
  private val EvoZoneManifest = "graft-evozone-v1:2"

  /** A long-lived raw zone accumulates files written under DIFFERENT
    * schema versions (the reference's zone spans config generations; this
    * round's own `events.ts` physical-type drift is the same failure
    * class). Stage a v1 parquet (id, day, amount_grid) and a v2 parquet
    * that added a `channel` column, then read BOTH through parquet
    * `mergeSchema` — the engine-level reconciliation that nulls the
    * missing column for old files — and aggregate per (day, channel) with
    * legacy rows bucketed under 'legacy'. The oracle reads the SAME two
    * staged files with `union_by_name=true`, so both engines exercise
    * their native schema-evolution path over identical bytes.
    *
    * Scale note: `mergeSchema` reads EVERY footer at plan time —
    * acceptable for a bounded fixture zone, wrong for 10⁶ files; a
    * production 100 TB zone pins the superset schema explicitly
    * (`spark.read.schema(superset)`) and gets the same null-filling
    * semantics this query demonstrates, without the footer sweep. */
  def schemaDriftScan(spark: SparkSession, sfDir: String): DataFrame = {
    stageEvoZone(spark)
    spark.read.option("mergeSchema", "true").parquet(evoZoneDir)
      .withColumn("channel", coalesce(col("channel"), lit("legacy")))
      .groupBy("day", "channel")
      .agg(count(lit(1)).as("n"), sum("amount_grid").as("amt_grid"))
      .orderBy("day", "channel")
  }

  private def stageEvoZone(spark: SparkSession): Unit =
    stageFixtureZone(evoZoneDir, EvoZoneManifest, ".parquet", 2) { root =>
      import java.nio.file.{Files, Paths}
      import spark.implicits._
      def writeOne(df: DataFrame, name: String): Unit = {
        val tmp = root.resolve(s"_tmp_$name").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val stream = Files.list(Paths.get(tmp))
        val part = try stream.filter(_.toString.endsWith(".parquet"))
          .findFirst().get() finally stream.close()
        Files.move(part, root.resolve(name))
        Staged.rmTree(new java.io.File(tmp))
      }
      // content is a pure function of the row index — sf-independent
      writeOne((0L until 300L).map(i => (i, (i % 7).toInt, i * 137 + 11))
        .toDF("id", "day", "amount_grid"), "v1.parquet")
      writeOne((300L until 600L).map(i =>
          (i, (i % 7).toInt, i * 137 + 11, if (i % 2 == 0) "web" else "app"))
        .toDF("id", "day", "amount_grid", "channel"), "v2.parquet")
    }

  val schemaDriftScanSql: String =
    s"""SELECT day, coalesce(channel, 'legacy') AS channel, count(*) AS n,
      |  CAST(SUM(amount_grid) AS BIGINT) AS amt_grid
      |FROM read_parquet(['$evoZoneDir/v1.parquet', '$evoZoneDir/v2.parquet'],
      |  union_by_name=true)
      |GROUP BY 1, 2 ORDER BY day, channel""".stripMargin
}
