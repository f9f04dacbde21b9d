package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Raw-JSON → ODS ingest — the Spark restatement of the reference's
  * extract/transform half (`dags/transformed_from_s3_to_pg.py`):
  * pretty-printed per-(country, date) Last.fm `geo.getTopTracks` documents
  * under `{root}/{date}/{country}_{date}.json`
  * (`dags/raw_from_api_to_s3.py:47-54`) become `ods.daily_data`-shaped rows
  * (`scripts/ddl_ods.sql:14-24`).
  *
  * What the reference does row-at-a-time in Python
  * (`transformed_from_s3_to_pg.py:31-45,61-67`) — key listing, JSON parse,
  * `tracks.track[]` flatten, nested projection, 3 string→int casts,
  * country-from-filename recovery, `ON CONFLICT DO NOTHING` dedup — is one
  * declarative plan here: Relation(json) → Generate(posexplode) → Project
  * → window-dedup. The CSV hop and the Postgres staging table
  * (`transformed_from_s3_to_pg.py:52-92`) have no semantic content and are
  * eliminated (SURVEY §2.1 S5/S6).
  *
  * Scale notes: `multiLine` JSON files are unsplittable, but the layout is
  * one document per (country, date), so parallelism equals file count —
  * exactly the axis that grows at scale. The declared read schema keeps
  * the JSON parser from materializing unused fields (mbid/url/streamable).
  * The dedup window partitions on the ODS key — no global shuffle hotspot.
  */
object OdsBuilder {

  /** Default fixture landing dir (stands in for the reference's
    * `s3://top-100-bucket/top_100/raw/`, `raw_from_api_to_s3.py:47`).
    */
  val fixtureRoot = "/root/repo/fixtures/lastfm_raw"

  /** Read schema — only the fields the reference consumes
    * (`transformed_from_s3_to_pg.py:34-43`). Numbers are JSON strings as
    * Last.fm sends them; casts happen in [[toOds]].
    */
  private val trackSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("duration", StringType),
    StructField("listeners", StringType),
    StructField("artist", StructType(Seq(StructField("name", StringType)))),
    StructField("@attr", StructType(Seq(StructField("rank", StringType))))))

  val rawSchema: StructType = StructType(Seq(
    StructField("tracks", StructType(Seq(
      StructField("track", ArrayType(trackSchema)))))))

  /** S4: one pretty-printed doc per file → one row per file.
    * `multiLine` is required — the reference lands `json.dumps(indent=4)`
    * (`raw_from_api_to_s3.py:50`); without it every file is a
    * `_corrupt_record` (SURVEY §7.4.6).
    */
  def readRaw(spark: SparkSession, root: String = fixtureRoot,
      glob: String = "*/*.json"): DataFrame =
    spark.read.option("multiLine", value = true).schema(rawSchema)
      .json(jsonInputs(spark, root, glob): _*)

  /** The files `pattern` matches, resolved on the driver with
    * `globStatus`; empty when it matches nothing.
    */
  def landedFiles(spark: SparkSession, pattern: String): Seq[String] = {
    val g = new org.apache.hadoop.fs.Path(pattern)
    val fs = g.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(g)).toSeq.flatten.map(_.getPath.toString)
  }

  /** What a JSON read of `root/glob` is handed: the matched files, not
    * the pattern. Given a pattern, Spark's reader first stats the
    * literal string as a possible streaming-sink directory, which logs a
    * `FileNotFoundException` warning on every read. A glob that matches
    * nothing is passed through, so the read still fails with Spark's
    * own PATH_NOT_FOUND.
    */
  private def jsonInputs(spark: SparkSession, root: String,
      glob: String): Seq[String] = {
    val pattern = s"$root/$glob"
    val files = landedFiles(spark, pattern)
    if (files.isEmpty) Seq(pattern) else files
  }

  /** P1-P4 + J5-shaped dedup: flatten, project, cast, recover
    * (country, date) from the file path, first-wins dedup on the ODS key
    * `(song_rank, source_date, country)` (`ddl_ods.sql:23`).
    *
    * "First wins" mirrors `ON CONFLICT DO NOTHING`
    * (`transformed_from_s3_to_pg.py:146-151`): within a file the earlier
    * array element wins, made deterministic by ranking on the exploded
    * position instead of relying on insertion order.
    */
  def toOds(raw: DataFrame): DataFrame = {
    // input_file_name() is URI-encoded ("United%20States"); decode before
    // the regex so countries with spaces survive (F6/P4,
    // `transformed_from_s3_to_pg.py:64`).
    val file = url_decode(input_file_name())
    val exploded = raw
      .withColumn("country",
        regexp_extract(file, "([^/]+)_\\d{4}-\\d{2}-\\d{2}\\.json$", 1))
      .withColumn("source_date",
        to_date(regexp_extract(file, "_(\\d{4}-\\d{2}-\\d{2})\\.json$", 1)))
      .select(col("country"), col("source_date"),
        posexplode(col("tracks.track")).as(Seq("pos", "t")))
      .select(
        col("t.name").as("song_name"),
        col("t.artist.name").as("artist_name"),
        col("t.duration").cast(IntegerType).as("duration_sec"),
        col("t.listeners").cast(IntegerType).as("listeners_count"),
        col("t.`@attr`.rank").cast(IntegerType).as("song_rank"),
        col("source_date"), col("country"), col("pos"))
    val w = Window.partitionBy(col("song_rank"), col("source_date"), col("country"))
      .orderBy(col("pos"))
    exploded.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("pos", "rn")
  }

  /** Full ingest: landing dir → deduped ODS rows. */
  def ingest(spark: SparkSession, root: String = fixtureRoot): DataFrame =
    toOds(readRaw(spark, root))

  // ---- checked ingest (corrupt-input quarantine) --------------------------

  /** Good rows + quarantined rejects. `quarantine` schema:
    * (src_file, reason, detail).
    */
  final case class CheckedIngest(ods: DataFrame, quarantine: DataFrame)

  private val rawSchemaWithCorrupt: StructType =
    rawSchema.add(StructField("_corrupt_record", StringType))

  /** Production-grade ingest: malformed inputs are ROUTED, not fatal.
    * The reference crashes the whole task on the first bad document or
    * non-numeric field (`int(track['duration'])`,
    * `transformed_from_s3_to_pg.py:38-40` — one poison file kills the
    * day); a 100 TB feed WILL contain poison. Two quarantine tiers:
    *
    *  - file-level: PERMISSIVE JSON read routes undecodable/mis-shaped
    *    documents to `_corrupt_record` instead of failing the scan;
    *  - row-level: the three numeric casts run as `try_cast` (ANSI-safe;
    *    a plain cast under Spark 4's default ANSI mode would throw), and
    *    a track whose rank/name is missing or whose present numeric
    *    field does not parse is quarantined with a reason.
    *
    * A structurally-valid document WITHOUT a `tracks.track` array (the
    * live API's error payload shape, e.g. rate-limit responses) is also
    * quarantined — a plain inner explode would silently drop the whole
    * country-day with an empty quarantine, defeating its monitoring
    * purpose.
    *
    * The raw day is materialized ONCE through
    * [[graft.engine.Checkpoints.iter]] (one scan for the good/bad split;
    * `graft.iter.checkpoint` picks executor-local or reliable storage):
    * Spark rejects raw-JSON-scan plans whose only referenced column is
    * the internal corrupt record
    * (QUERY_ONLY_CORRUPT_RECORD_COLUMN — and Catalyst's isNotNull
    * constraint propagation folds away any decoy data-column reference),
    * so the quarantine side cannot run against the file scan directly.
    * Unlike `cache()`, the checkpoint is per-call (a later call with new
    * files landed never plan-matches a stale entry) and its blocks are
    * released by the ContextCleaner when the frames are collected —
    * no session-lifetime leak (a reliable checkpoint's files stay in
    * the checkpoint directory, as for every [[graft.engine.Checkpoints]]
    * caller). `src_file` is derived inside the scan
    * projection — input_file_name() is a property of the file scan and
    * would be '' after materialization.
    */
  def ingestChecked(spark: SparkSession, root: String = fixtureRoot,
      glob: String = "*/*.json"): CheckedIngest = {
    val scan = spark.read.option("multiLine", value = true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(rawSchemaWithCorrupt)
      .json(jsonInputs(spark, root, glob): _*)
      .withColumn("src_file", url_decode(input_file_name()))
    val raw = graft.engine.Checkpoints.iter(scan)

    val fileQuarantine = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("src_file"), lit("malformed_json").as("reason"),
        substring(col("_corrupt_record"), 1, 200).as("detail"))

    // valid JSON, wrong shape: no tracks.track array to flatten
    val shapeQuarantine = raw
      .filter(col("_corrupt_record").isNull && col("tracks.track").isNull)
      .select(col("src_file"), lit("missing_tracks").as("reason"),
        lit("document has no tracks.track array").as("detail"))

    val parsed = raw
      .filter(col("_corrupt_record").isNull && col("tracks.track").isNotNull)
      .drop("_corrupt_record")
      .withColumn("country",
        regexp_extract(col("src_file"), "([^/]+)_\\d{4}-\\d{2}-\\d{2}\\.json$", 1))
      .withColumn("source_date",
        to_date(regexp_extract(col("src_file"), "_(\\d{4}-\\d{2}-\\d{2})\\.json$", 1)))
      .select(col("src_file"), col("country"), col("source_date"),
        posexplode(col("tracks.track")).as(Seq("pos", "t")))
      .select(col("src_file"), col("country"), col("source_date"), col("pos"),
        col("t.name").as("song_name"),
        col("t.artist.name").as("artist_name"),
        col("t.duration").as("duration_raw"),
        col("t.listeners").as("listeners_raw"),
        col("t.`@attr`.rank").as("rank_raw"))
      .withColumn("duration_sec", expr("try_cast(duration_raw AS INT)"))
      .withColumn("listeners_count", expr("try_cast(listeners_raw AS INT)"))
      .withColumn("song_rank", expr("try_cast(rank_raw AS INT)"))

    // a present-but-unparseable numeric, or a missing mandatory field,
    // rejects the ROW (not the file, not the day)
    val badNum = (raw: Column, cast: Column) => raw.isNotNull && cast.isNull
    val rowBad =
      col("song_rank").isNull || col("song_name").isNull ||
        badNum(col("duration_raw"), col("duration_sec")) ||
        badNum(col("listeners_raw"), col("listeners_count"))
    val rowQuarantine = parsed.filter(rowBad)
      .select(col("src_file"), lit("bad_track_row").as("reason"),
        to_json(struct(col("pos"), col("song_name"), col("rank_raw"),
          col("duration_raw"), col("listeners_raw"))).as("detail"))

    val w = Window
      .partitionBy(col("song_rank"), col("source_date"), col("country"))
      .orderBy(col("pos"))
    val good = parsed.filter(!rowBad)
      .select(col("song_name"), col("artist_name"), col("duration_sec"),
        col("listeners_count"), col("song_rank"), col("source_date"),
        col("country"), col("pos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("pos", "rn")

    CheckedIngest(good,
      fileQuarantine.unionByName(shapeQuarantine).unionByName(rowQuarantine))
  }

  /** Typed variant for library consumers (`Dataset[OdsRow]`, §1.3
    * contract) — same plan, compile-time column safety at the boundary.
    */
  def ingestTyped(spark: SparkSession,
      root: String = fixtureRoot): org.apache.spark.sql.Dataset[graft.model.Schemas.OdsRow] = {
    import spark.implicits._
    ingest(spark, root).as[graft.model.Schemas.OdsRow]
  }
}
