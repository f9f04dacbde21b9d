package graft.star

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** DDS star-schema builder — the Spark restatement of the reference's
  * `from_ods_to_dds_pg` DAG (`dags/from_ods_to_dds_pg.py:42-104`,
  * `scripts/ddl_dds.sql`).
  *
  * Input contract: an ODS-shaped DataFrame with columns
  * `(song_name, artist_name, duration_sec, listeners_count, song_rank,
  * source_date, country)` — `scripts/ddl_ods.sql:14-24`.
  *
  * Deviations from the reference (documented, SURVEY.md §7.4.5):
  *  - imputation is applied once, upstream of BOTH dim_song and the fact
  *    join. The reference imputes only inside dim_song
  *    (`from_ods_to_dds_pg.py:74-77`) but joins the fact on the raw
  *    duration (`:98`), silently dropping zero-duration rows; we keep them.
  *  - surrogate ids are deterministic `row_number` over the natural-key
  *    order, not insertion-order `serial` (`ddl_dds.sql:3,9,15`). Ids are
  *    join plumbing only; no mart exposes them.
  *
  * Scale notes (100 TB design): imputation is a per-date partial aggregate
  * broadcast back — no wide shuffle of the fact side. Ids are numbered
  * on one of two paths, chosen by what the input is, not by its size:
  *  - a whole-corpus dim build ([[dimArtist]], [[dimSong]],
  *    [[dimCountry]]) shuffles only the distinct natural keys and
  *    numbers them with a fully distributed sort + zipWithIndex (no
  *    single-task window, see [[withSurrogateId]]);
  *  - one load's unseen keys ([[newDimRows]], the daily append) are at
  *    most a day's distinct new keys: sorted in one Spark task, collected
  *    and numbered on the driver ([[numberNewKeys]]).
  * The fact build broadcasts only the provably bounded dim (country);
  * data-scaled dims (song, artist) are joined unhinted so AQE picks
  * broadcast vs sort-merge from measured sizes.
  */
object StarBuilder {

  /** Per-date mean imputation of zero durations (A4/P7,
    * `from_ods_to_dds_pg.py:74-77`): zero durations are replaced by the
    * date's mean of nonzero durations, rounded half-up like PG
    * `numeric::int` — computed in pure integer math for engine parity.
    * Adds `duration_filled`; null when a date has no nonzero durations.
    */
  def imputePerDate(ods: DataFrame): DataFrame = {
    val perDate = ods.filter(col("duration_sec") > 0)
      .groupBy(col("source_date"))
      .agg(call_function("div",
        sum(col("duration_sec")) * 2 + count(lit(1)),
        count(lit(1)) * 2).as("imputed_duration"))
    ods.join(broadcast(perDate), Seq("source_date"), "left")
      .withColumn("duration_filled",
        when(col("duration_sec") === 0, col("imputed_duration"))
          .otherwise(col("duration_sec")))
      .drop("imputed_duration")
  }

  /** Deterministic dense surrogate ids equal to the 1-based rank of the
    * natural key in sorted order — the Spark restatement of `serial`
    * (`ddl_dds.sql:3,9,15`), made deterministic by ranking on the key
    * instead of insertion order (SURVEY §7.4.1).
    *
    * Scale design: round 1 used `row_number().over(Window.orderBy(...))`,
    * which funnels every distinct key through ONE task — fine for 5
    * countries, a straight bottleneck for a data-scaled dim_song. This is
    * the two-phase version: a fully distributed range-partitioned sort,
    * then `zipWithIndex` (phase 1 counts rows per partition, phase 2 adds
    * the per-partition offset). The index equals the global sorted
    * position whatever the sampled range boundaries are, so ids stay
    * deterministic run-to-run, and no single task ever holds the dim.
    * The price is three runs of `distinctKeys`' lineage (range sample,
    * partition sizing, the consumer's own), which only a whole-corpus
    * build is worth; one load's new keys go through [[numberNewKeys]].
    */
  def withSurrogateId(distinctKeys: DataFrame, idCol: String,
      naturalKey: Seq[String]): DataFrame = {
    val keys = naturalKey.map(col)
    val sorted = distinctKeys.select(keys: _*).orderBy(keys: _*)
    val out = StructType(StructField(idCol, LongType, nullable = false) +:
      sorted.schema.fields)
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq((i + 1L) +: r.toSeq)
    }
    sorted.sparkSession.createDataFrame(rdd, out)
  }

  private def dim(df: DataFrame, idCol: String, naturalKey: Seq[String]): DataFrame =
    withSurrogateId(df.select(naturalKey.map(col): _*).distinct(), idCol, naturalKey)

  /** The rows a dim gains from `candidates` — the cross-day `serial`
    * semantics (`ddl_dds.sql:3,9,15` + `ON CONFLICT DO NOTHING`,
    * `from_ods_to_dds_pg.py:50,63,80`): only natural keys absent from
    * `existing`, with ids starting at max(existing)+1, ranked
    * deterministically within the batch. Existing rows keep their ids
    * forever, so appending these rows is the whole dim update;
    * day-over-day id stability is what lets the fact table reference
    * dims append-only. The id base is `existing`'s max id, found by a
    * scan ([[maxId]]); a caller that knows it cheaper passes it in.
    */
  def newDimRows(existing: DataFrame, candidates: DataFrame,
      idCol: String, naturalKey: Seq[String]): DataFrame =
    newDimRows(existing, candidates, idCol, naturalKey, maxId(existing, idCol))

  /** max(`idCol`) over `dim`'s rows, found by a scan; 0 for an empty dim. */
  def maxId(dim: DataFrame, idCol: String): Long =
    dim.agg(coalesce(max(col(idCol)), lit(0L))).head().getLong(0)

  /** [[newDimRows]] numbered from the given id base: the unseen keys get
    * `idBase+1 … idBase+n` ([[numberNewKeys]]). `idBase` must be the max
    * id over `existing`'s rows, or ids collide or skip.
    */
  def newDimRows(existing: DataFrame, candidates: DataFrame,
      idCol: String, naturalKey: Seq[String], idBase: Long): DataFrame = {
    // Null-safe anti-join: a NULL key component (all-zero-duration date
    // → NULL imputed duration) must still match its existing dim row, or
    // every replay would mint a fresh id for it.
    val fresh = graft.engine.Upsert.newRows(
      candidates.select(naturalKey.map(col): _*).distinct(), existing,
      naturalKey)
    numberNewKeys(fresh, idCol, naturalKey, base = idBase)
  }

  /** One load's distinct new keys numbered `base+1 … base+n` in their
    * natural-key order, in one pass: the keys are sorted in ONE Spark
    * task and collected, then numbered on the driver. The result is a
    * local frame of driver-held rows, equal row for row to
    * `withSurrogateId(fresh, …)` shifted by `base`: the sort is Spark's
    * own, so NULLS FIRST and UTF-8 byte order of strings hold exactly as
    * in [[withSurrogateId]] (Scala's UTF-16 `String` order would
    * disagree, e.g. on "Ａ" vs "🎵"). `fresh` must hold distinct keys and
    * fit on the driver — a day's unseen keys do; a whole corpus goes
    * through [[withSurrogateId]].
    */
  def numberNewKeys(fresh: DataFrame, idCol: String,
      naturalKey: Seq[String], base: Long): DataFrame = {
    val keys = naturalKey.map(col)
    val sorted = fresh.select(keys: _*).coalesce(1).sortWithinPartitions(keys: _*)
    val out = StructType(StructField(idCol, LongType, nullable = false) +:
      sorted.schema.fields)
    val rows = sorted.collect().toSeq.zipWithIndex.map { case (r, i) =>
      Row.fromSeq((base + i + 1L) +: r.toSeq)
    }
    fresh.sparkSession.createDataFrame(rows.asJava, out)
  }

  /** The whole dim after `candidates`: `existing` plus [[newDimRows]]. */
  def dimIncremental(existing: DataFrame, candidates: DataFrame,
      idCol: String, naturalKey: Seq[String]): DataFrame =
    existing.unionByName(newDimRows(existing, candidates, idCol, naturalKey))

  /** `INSERT INTO dds.dim_artist ... SELECT DISTINCT artist_name`
    * (`from_ods_to_dds_pg.py:56-64`).
    */
  def dimArtist(ods: DataFrame): DataFrame =
    dim(ods, "artist_id", Seq("artist_name"))

  /** `... SELECT DISTINCT country` (`from_ods_to_dds_pg.py:42-51`). */
  def dimCountry(ods: DataFrame): DataFrame =
    dim(ods.withColumnRenamed("country", "country_name"),
      "country_id", Seq("country_name"))

  /** `... SELECT DISTINCT song_name, CASE WHEN duration_sec = 0 ...`
    * (`from_ods_to_dds_pg.py:66-80`) — distinct AFTER imputation, composite
    * natural key (song_name, duration_sec) per `ddl_dds.sql:18`.
    * Input must already carry `duration_filled` (from [[imputePerDate]]).
    */
  def dimSong(filled: DataFrame): DataFrame =
    dim(filled.select(col("song_name"), col("duration_filled").as("duration_sec")),
      "song_id", Seq("song_name", "duration_sec"))

  /** Fact build — the 3-way natural-key→surrogate-id lookup join J1
    * (`from_ods_to_dds_pg.py:84-102`).
    *
    * Broadcast policy (100 TB design): dim_country is bounded by the
    * country list (`raw_from_api_to_s3.py:14-18`) and always broadcast.
    * dim_song and dim_artist are DATA-SCALED — their cardinality grows
    * with the corpus, so an unconditional broadcast hint (round 1) OOMs
    * executors at scale. We leave them unhinted: AQE measures the built
    * side at runtime and picks broadcast-hash when it is actually small,
    * falling back to sort-merge when it is not — exactly the
    * "conditional on measured size" policy, with Spark doing the
    * measuring.
    */
  def fact(filled: DataFrame, dimArtist: DataFrame, dimSong: DataFrame,
      dimCountry: DataFrame): DataFrame = {
    // Dims are usually derived from `filled` itself; rename their join
    // columns so Catalyst never sees an ambiguous self-join condition.
    val ds = dimSong.select(col("song_id"), col("song_name").as("ds_song_name"),
      col("duration_sec").as("ds_duration_sec"))
    filled
      .join(dimArtist, Seq("artist_name"))
      // Null-safe on the duration: a date whose durations are ALL zero
      // imputes to NULL, and dim_song carries that NULL key — a plain
      // equality would silently drop the whole day from the fact table
      // (the very data-loss bug we fixed in the reference).
      .join(ds,
        col("song_name") === col("ds_song_name") &&
        (col("duration_filled") <=> col("ds_duration_sec")))
      .join(broadcast(dimCountry), col("country") === col("country_name"))
      .select(col("source_date").as("date"), col("country_id"),
        col("song_id"), col("artist_id"), col("song_rank"),
        col("listeners_count"))
  }
}
