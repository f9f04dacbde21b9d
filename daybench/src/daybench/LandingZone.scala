package daybench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded generator of a reference-shaped landing zone: one
  * pretty-printed Last.fm `geo.getTopTracks` document per (country,
  * date) at `{root}/{date}/{country}_{date}.json`, numbers as JSON
  * strings, country and date carried only by the file name.
  *
  * Song choice is chart-like: a fixed seeded catalog whose popularity
  * falls off as a power of the catalog index, so the same hits recur
  * across countries and days and the dims grow sublinearly. About 2% of
  * rows carry a zero duration (the imputation path) and about a third
  * of the documents carry one extra row that repeats an earlier rank
  * (the first-wins ODS dedup). A shape with poison adds, per date, a
  * fixed number of documents that do not parse into tracks (truncated
  * JSON, or an API error payload) and of rows whose numbers do not
  * parse — the quarantine path of `OdsBuilder.ingestChecked`.
  *
  * Every choice comes from `SplittableRandom`s keyed by (seed, country,
  * date), so one seed gives byte-identical files whatever the order in
  * which dates are landed.
  */
object LandingZone {

  final case class Track(name: String, artist: String, duration: String,
      listeners: String, rank: String)

  /** One landed document. `poison` holds the verbatim text of a
    * document that carries no tracks; `tracks` is then empty.
    */
  final case class Doc(country: String, date: String,
      tracks: IndexedSeq[Track], poison: Option[String])

  final case class Shape(countries: Int, perDate: Int, catalog: Int,
      artists: Int, poisonDocsPerDate: Int = 0, badRowsPerDate: Int = 0)

  private val referenceCountries =
    Seq("Russian Federation", "United States", "Kazakhstan")

  def countryNames(n: Int): IndexedSeq[String] =
    (referenceCountries ++ (referenceCountries.size until n)
      .map(i => f"Country $i%03d")).take(n).toIndexedSeq

  def dates(first: java.time.LocalDate, n: Int): IndexedSeq[String] =
    (0 until n).map(i => first.plusDays(i.toLong).toString)

  private def rng(seed: Long, parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L) {
      (h, p) => (h ^ p) * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    })

  private final case class Song(name: String, artist: String,
      duration: Int)

  /** The seed's song catalog, most popular first. Every 50th entry
    * re-uses the previous title with another duration, so `dim_song`
    * needs its composite (name, duration) key.
    */
  private def catalog(seed: Long, shape: Shape): IndexedSeq[Song] = {
    val r = rng(seed, 1L)
    (0 until shape.catalog).map { j =>
      val artist = (shape.artists * math.pow(r.nextDouble(), 2.0)).toInt
      val title = if (j % 50 == 49) s"Song ${j - 1}" else s"Song $j"
      Song(title, s"Artist $artist", 150 + r.nextInt(210))
    }
  }

  /** The documents of one date, in country order. */
  def day(seed: Long, shape: Shape, dayIndex: Int,
      date: String): IndexedSeq[Doc] = {
    val songs = catalog(seed, shape)
    val names = countryNames(shape.countries)
    val pr = rng(seed, 2L, dayIndex.toLong)
    val poisonAt: Map[Int, Int] = pr.ints(0, shape.countries).distinct()
      .limit(shape.poisonDocsPerDate.toLong).toArray.zipWithIndex.toMap
    val docs = names.indices.map { c =>
      val tracks = chart(seed, shape, songs, c, dayIndex)
      poisonAt.get(c) match {
        case Some(k) =>
          val text =
            if (k % 2 == 0) render(tracks, names(c)).take(900)
            else "{\n    \"error\": 29,\n    \"message\": " +
              "\"Rate Limit Exceeded\"\n}"
          Doc(names(c), date, IndexedSeq.empty, Some(text))
        case None => Doc(names(c), date, tracks, None)
      }
    }
    // bad-number rows: distinct (document, position) picks among the
    // documents that still carry tracks
    val clean = docs.indices.filter(docs(_).poison.isEmpty)
    val bad = Iterator.continually(
        (clean(pr.nextInt(clean.size)), pr.nextInt(shape.perDate)))
      .distinct.take(shape.badRowsPerDate).toSeq
    bad.foldLeft(docs) { case (ds, (c, p)) =>
      val t = ds(c).tracks(p)
      val broken =
        if (p % 2 == 0) t.copy(duration = "n/a")
        else t.copy(listeners = t.listeners.replace('0', 'O') + "x")
      ds.updated(c, ds(c).copy(tracks = ds(c).tracks.updated(p, broken)))
    }
  }

  private def chart(seed: Long, shape: Shape, songs: IndexedSeq[Song],
      country: Int, dayIndex: Int): IndexedSeq[Track] = {
    val r = rng(seed, 3L, country.toLong, dayIndex.toLong)
    val shift = r.nextInt(shape.catalog)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < shape.perDate) {
      val hit = (shape.catalog * math.pow(r.nextDouble(), 2.5)).toInt
      // most of a chart is global hits; the rest is a local scene
      picked += (if (r.nextDouble() < 0.7) hit
        else (hit + shift) % shape.catalog)
    }
    val ranked = picked.toIndexedSeq
      .map(i => i -> i * (0.8 + 0.4 * r.nextDouble())).sortBy(_._2).map(_._1)
    val base = 2000000.0 / (1 + country)
    val rows = ranked.zipWithIndex.map { case (i, k) =>
      val s = songs(i)
      val duration = if (r.nextDouble() < 0.02) 0 else s.duration
      val listeners =
        (base / math.pow(k + 1.0, 0.7) * (0.9 + 0.2 * r.nextDouble())).toLong
      Track(s.name, s.artist, duration.toString, listeners.toString,
        (k + 1).toString)
    }
    if (r.nextDouble() < 0.33) {
      val s = songs(r.nextInt(shape.catalog))
      rows :+ Track(s.name, s.artist, s.duration.toString, "1000",
        (1 + r.nextInt(shape.perDate)).toString)
    } else rows
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def slug(s: String): String = s.replace(' ', '+')

  /** `json.dumps(doc, indent=4)` of a `geo.getTopTracks` response, as
    * the reference lands it.
    */
  def render(tracks: IndexedSeq[Track], country: String): String = {
    val b = new StringBuilder
    b ++= "{\n    \"tracks\": {\n        \"track\": ["
    tracks.zipWithIndex.foreach { case (t, i) =>
      if (i > 0) b += ','
      val mbid = f"${(t.name + t.artist).hashCode & 0x7fffffff}%012d"
      b ++= s"""
            {
                "name": "${esc(t.name)}",
                "duration": "${esc(t.duration)}",
                "listeners": "${esc(t.listeners)}",
                "mbid": "00000000-0000-0000-0000-$mbid",
                "url": "https://www.last.fm/music/${slug(t.artist)}/_/${slug(t.name)}",
                "streamable": {
                    "#text": "0",
                    "fulltrack": "0"
                },
                "artist": {
                    "name": "${esc(t.artist)}",
                    "url": "https://www.last.fm/music/${slug(t.artist)}"
                },
                "@attr": {
                    "rank": "${esc(t.rank)}"
                }
            }"""
    }
    b ++= s"""
        ],
        "@attr": {
            "country": "${esc(country)}",
            "page": "1",
            "perPage": "${tracks.size}",
            "totalPages": "1",
            "total": "${tracks.size}"
        }
    }
}"""
    b.toString
  }

  /** Land one date's documents; returns the bytes written. */
  def land(root: Path, docs: Seq[Doc]): Long =
    docs.map { d =>
      val dir = root.resolve(d.date)
      Files.createDirectories(dir)
      val bytes = d.poison.getOrElse(render(d.tracks, d.country))
        .getBytes(UTF_8)
      Files.write(dir.resolve(s"${d.country}_${d.date}.json"), bytes)
      bytes.length.toLong
    }.sum
}
