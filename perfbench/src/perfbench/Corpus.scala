package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
import scala.jdk.CollectionConverters._

/** Seeded city-directory corpus: volume archives, manifest HTML, geocoder
  * dimension and the ground truth the output checks compare against.
  *
  * What sets the pipeline's cost is fixed by the shape: volumes, body
  * pages, the heavy-tailed multiset of volume sizes, lines, dimension
  * rows. The seed draws everything else — which volume gets which size,
  * names, occupations, streets, house numbers, which addresses hit the
  * dimension, years, split years and dead-lettered volumes. So runs on
  * different seeds cost about the same and check different data.
  *
  * The truth is computed here from the generator's own draws, not by
  * calling the program: an address hits iff it was drawn from the
  * dimension, a line counts iff it is an entry line on a body page.
  */
object Corpus {

  final case class Shape(volumes: Int, bodyPages: Int, minEntries: Int,
                         maxEntries: Int, streets: Int, numbersPerStreet: Int,
                         hitRate: Double, deadRate: Double) {
    def key: String =
      s"v$volumes-p$bodyPages-e$minEntries-$maxEntries-d${streets * numbersPerStreet}" +
        s"-h${(hitRate * 100).round}-x${(deadRate * 100).round}"
    def dimensionRows: Int = streets * numbersPerStreet
  }

  /** The benchmark's corpus: ~34k entry lines in 120 volumes. */
  val DefaultShape: Shape = Shape(volumes = 120, bodyPages = 840,
    minEntries = 30, maxEntries = 50, streets = 150, numbersPerStreet = 160,
    hitRate = 0.8, deadRate = 0.02)

  /** Year window of `etl_year_slice`: three volumes are placed in it (one
    * "1850", one split "1850/51", one "1851"), i.e. 1/40 of the volumes.
    */
  val SliceMinYear = 1850
  val SliceMaxYear = 1851
  private val SliceYears = Seq("1850", "1850/51", "1851")

  /** Per-volume truth. `lines` counts entry lines on body pages (what the
    * pipeline must turn into one object each); `hits`/`misses` count the
    * addresses on those lines that are / are not in the dimension.
    */
  final case class VolumeTruth(uuid: String, yearMin: Int, yearMax: Int,
                               dead: Boolean, pages: Int, lines: Long,
                               hits: Long, misses: Long, archiveBytes: Long) {
    def selected(minYear: Option[Int], maxYear: Option[Int]): Boolean =
      !dead && minYear.forall(yearMin >= _) && maxYear.forall(yearMax <= _)
  }

  final case class Corpus(dir: Path, seed: Long, shape: Shape,
                          volumes: Seq[VolumeTruth], manifestHtml: String) {
    def remoteDir: Path = dir.resolve("remote")
    def dimensionPath: Path = dir.resolve("dimension.ndjson")
    def selected(minYear: Option[Int], maxYear: Option[Int]): Seq[VolumeTruth] =
      volumes.filter(_.selected(minYear, maxYear))
    def totalPages: Long = volumes.map(_.pages.toLong).sum
    def totalLines: Long = volumes.map(_.lines).sum
    def totalArchiveBytes: Long = volumes.map(_.archiveBytes).sum
    /** Content digest of every archive, for the determinism self-test. */
    def archiveDigest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      volumes.sortBy(_.uuid).foreach { v =>
        md.update(Files.readAllBytes(remoteDir.resolve(s"${v.uuid}.tar.gz")))
      }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  private val surnames = Vector("Smith", "Jones", "Brown", "Davis", "Miller",
    "Wilson", "Moore", "Taylor", "Anderson", "Thomas", "Jackson", "White",
    "Harris", "Martin", "Thompson", "Garcia", "Clark", "Lewis", "Robinson",
    "Walker", "Young", "Allen", "King", "Wright", "Scott", "Green", "Baker",
    "Adams", "Nelson", "Hill", "Campbell", "Mitchell", "Roberts", "Carter",
    "Phillips", "Evans", "Turner", "Collins", "Edwards", "Stewart", "Morris",
    "Murphy", "Cook", "Rogers", "Morgan", "Cooper", "Peterson", "Reed",
    "Bailey", "Kelly", "Howard", "Cox", "Ward", "Richardson", "Watson",
    "Brooks", "Wood", "James", "Bennett", "Gray", "Hughes", "Price", "Myers",
    "Long", "Foster", "Sanders", "Ross", "Powell", "Sullivan", "Russell")
  private val forenames = Vector("John", "Mary", "Wm.", "Geo.", "Ann",
    "Jas.", "Thos.", "Chas.", "Sarah", "Henry", "Eliza", "Peter", "Jane",
    "Saml.", "Margaret", "Edw.", "Catharine", "Robt.", "Hannah", "Jos.",
    "Susan", "Daniel", "Ellen", "Michael", "Patrick", "Bridget", "Jacob")
  private val occupations = Vector("carpenter", "milliner", "grocer",
    "smith", "teacher", "porter", "merchant", "tailor", "shoemaker", "clerk",
    "laborer", "cartman", "baker", "butcher", "mason", "painter", "cooper",
    "physician", "druggist", "printer", "bookseller", "confectioner",
    "dressmaker", "seamstress", "widow", "boarding house", "engraver",
    "jeweller", "hatter", "saddler", "sailmaker", "rigger", "stevedore",
    "pilot", "grocer and liquors", "segarmaker", "upholsterer", "watchmaker")
  /** (name as printed, canonical words after normalization). The printed
    * forms use the directory abbreviations; the canonical form is what a
    * correct normalizer must produce, written out by hand here.
    */
  private val streetStems = Vector("Pearl", "Water", "Canal", "Mulberry",
    "Greenwich", "Hudson", "Spring", "Grand", "Chambers", "Fulton", "Nassau",
    "William", "Beekman", "Duane", "Reade", "Franklin", "Walker", "Laight",
    "Hester", "Houston", "Bleecker", "Christopher", "Barrow", "Bedford",
    "Carmine", "Thompson", "Sullivan", "Macdougal", "Wooster", "Mercer",
    "Greene", "Crosby", "Elizabeth", "Mott", "Orchard", "Ludlow", "Essex",
    "Norfolk", "Suffolk", "Clinton", "Rivington", "Stanton", "Delancey",
    "Broome", "Cherry", "Monroe", "Madison", "Henry", "Oliver", "Catharine",
    "Division", "Pike", "Rutgers", "Jefferson", "Gouverneur", "Jackson",
    "Cortlandt", "Dey", "Vesey", "Barclay", "Murray", "Warren", "Liberty",
    "Cedar", "Pine", "Wall", "Beaver", "Stone", "Bridge", "Whitehall",
    "Front", "Cliff", "Gold", "Ann", "Frankfort", "Rose", "Dover", "Oak",
    "Roosevelt", "Centre", "Elm", "Lafayette", "Bond", "Great Jones",
    "Amity", "Prince", "King", "Charlton", "Vandam", "Dominick", "Watts")

  private def streets(n: Int): Vector[(String, String)] = {
    val named = streetStems.flatMap { s =>
      Vector((s"$s st", s"${s.toLowerCase} street"))
    } ++ Vector(("Broadway", "broadway"), ("Bway", "broadway"),
      ("Bowery", "bowery"), ("Astor pl", "astor place"),
      ("Maiden la", "maiden lane"), ("Lexington av", "lexington avenue"))
    val numbered = (1 to 60).flatMap { i =>
      val ord = if (i % 10 == 1 && i != 11) "st" else if (i % 10 == 2 && i != 12) "d"
        else if (i % 10 == 3 && i != 13) "d" else "th"
      val dir = if (i % 2 == 0) ("W", "west") else ("E", "east")
      Seq((s"${dir._1} $i$ord st", s"${dir._2} $i$ord street"),
        (s"$i$ord av", s"$i$ord avenue"))
    }
    // Broadway and Bway are one street; keep the first spelling as the
    // dimension's own and use both in entries (see `streetSpellings`)
    (named ++ numbered).filterNot(_._1 == "Bway").take(n).toVector
  }

  /** Every printed spelling of a canonical street. */
  private def streetSpellings(canon: String, printed: String): Vector[String] =
    if (canon == "broadway") Vector("Broadway", "Bway") else Vector(printed)

  private def line(text: String, x0: Int, y0: Int): String =
    s"      <span class='ocr_line' title='bbox $x0 $y0 ${x0 + 11 * text.length} ${y0 + 30}'>" +
      s"<span class='ocrx_word'>$text</span></span>\n"

  private def tarGz(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val tar = new TarArchiveOutputStream(new GzipCompressorOutputStream(bos))
    entries.foreach { case (name, bytes) =>
      val e = new TarArchiveEntry(name)
      e.setSize(bytes.length.toLong)
      tar.putArchiveEntry(e)
      tar.write(bytes)
      tar.closeArchiveEntry()
    }
    tar.close()
    bos.toByteArray
  }

  /** Heavy-tailed page counts that sum to exactly `total`, at least 2
    * each: Pareto (alpha 1.2, capped at 12x) at evenly spaced quantiles,
    * so every seed gets the same multiset of sizes and only their
    * assignment to volumes is drawn. Spark packs archives into scan
    * partitions by size, so a seed-drawn tail would move the widest task
    * from seed to seed.
    */
  private def pageCounts(rng: SplittableRandom, n: Int, total: Int): Vector[Int] = {
    val w = Vector.tabulate(n)(i => math.min(12.0, math.pow(1.0 - (i + 0.5) / n, -1 / 1.2)))
    val spare = total - 2 * n
    val raw = w.map(x => x / w.sum * spare)
    val base = raw.map(math.floor(_).toInt)
    val rest = spare - base.sum
    val bump = raw.zipWithIndex.sortBy { case (x, _) => -(x - math.floor(x)) }
      .take(rest).map(_._2).toSet
    val counts = base.zipWithIndex.map { case (b, i) => 2 + b + (if (bump(i)) 1 else 0) }
    require(counts.sum == total)
    // seeded Fisher-Yates: which volume gets which size
    val a = counts.toArray
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }

  /** Generate (or reuse, behind a marker keyed on seed and shape) the
    * corpus under `root`.
    */
  def ensure(root: Path, seed: Long, shape: Shape = DefaultShape): Corpus = {
    val dir = root.resolve(s"${shape.key}-s$seed")
    val marker = dir.resolve(".complete")
    if (!Files.exists(marker)) {
      deleteTree(dir)
      write(dir, seed, shape)
      Files.writeString(marker, "ok")
    }
    load(dir, seed, shape)
  }

  private def write(dir: Path, seed: Long, shape: Shape): Unit = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    Files.createDirectories(dir.resolve("remote"))
    val streetTab = streets(shape.streets)
    val dimension = new StringBuilder
    var addrId = 0
    streetTab.zipWithIndex.foreach { case ((printed, canon), si) =>
      val (lon0, lat0) = (-74.02 + rng.nextDouble() * 0.06, 40.70 + rng.nextDouble() * 0.08)
      (1 to shape.numbersPerStreet).foreach { num =>
        addrId += 1
        val lon = lon0 + num * 1e-5
        val lat = lat0 + num * 1e-5
        dimension.append(s"""{"addressId":"addr-$addrId","addressName":"$num $printed",""" +
          s""""streetId":"street-$si","streetName":"$printed",""" +
          s""""normalizedKey":"$num $canon",""" +
          s""""geometry":{"type":"Point","coordinates":[[$lon,$lat]]}}""").append('\n')
      }
    }
    Files.writeString(dir.resolve("dimension.ndjson"), dimension.toString)

    val n = shape.volumes
    val nSlice = SliceYears.size
    val meanPages = shape.bodyPages / n
    val counts = Vector.fill(nSlice)(meanPages) ++
      pageCounts(rng, n - nSlice, shape.bodyPages - nSlice * meanPages)
    val nDead = math.max(1, (n * shape.deadRate).round.toInt)
    // dead-lettered volumes are drawn outside the slice, so both ETL
    // workloads keep a fixed amount of selected work
    val deadIdx = scala.collection.mutable.Set.empty[Int]
    while (deadIdx.size < nDead) deadIdx += nSlice + rng.nextInt(n - nSlice)
    val otherYears = (1840 to 1879).filterNot(y => y == SliceMinYear || y == SliceMaxYear)
    val truths = (0 until n).map { i =>
      val uuid = f"${rng.nextLong() & 0xffffffffL}%08x-$i%04d"
      val year =
        if (i < nSlice) SliceYears(i)
        else {
          val y = otherYears(rng.nextInt(otherYears.size))
          if (rng.nextInt(10) == 0) s"$y/${(y + 1) % 100}" else y.toString
        }
      val yMin = year.takeWhile(_ != '/').toInt
      val yMax = if (year.contains('/')) yMin + 1 else yMin
      val columnCount = if (i >= nSlice && rng.nextInt(10) == 0) 1 else 2
      val startPage = 3 + rng.nextInt(3)
      val endPage = startPage + counts(i) - 1
      val entryStart = rng.nextDouble()
      var lines, hits, misses = 0L
      val entries = Vector.newBuilder[(String, Array[Byte])]
      // front matter before startPage and one advertisement page after
      // endPage: in the archive, outside the body range
      ((1 until startPage) ++ (startPage to endPage) ++ Seq(endPage + 1)).foreach { p =>
        val body = p >= startPage && p <= endPage
        // entries per page follow a golden-ratio rotation through
        // min..max from a seeded start: any run of pages averages close to
        // the middle, so a volume's line count hardly depends on the seed
        val frac = (entryStart + p * 0.6180339887498949) % 1.0
        val nEntries = shape.minEntries +
          (frac * (shape.maxEntries - shape.minEntries + 1)).toInt
        val sb = new StringBuilder
        sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<html><body>\n")
        sb.append("  <div class='ocr_page' title='bbox 0 0 2400 3800'>\n")
        val perCol = (nEntries + columnCount - 1) / columnCount
        (0 until nEntries).foreach { e =>
          val col = e / perCol
          val x0 = (if (col == 0) 100 else 1300) + rng.nextInt(31)
          val y0 = 200 + (e % perCol) * 64 + rng.nextInt(8)
          val name = s"${surnames(rng.nextInt(surnames.size))} ${forenames(rng.nextInt(forenames.size))}"
          val noise = if (rng.nextInt(5) == 0) "." * (2 + rng.nextInt(5)) else ""
          val occ = if (rng.nextInt(10) == 0) Nil else List(occupations(rng.nextInt(occupations.size)))
          val nAddr = if (rng.nextInt(100) < 15) 2 else 1
          val addrs = (0 until nAddr).map { a =>
            val hit = rng.nextDouble() < shape.hitRate
            val (printed, canon) = streetTab(rng.nextInt(streetTab.size))
            val spelling = streetSpellings(canon, printed)
            val num =
              if (hit) 1 + rng.nextInt(shape.numbersPerStreet)
              else shape.numbersPerStreet + 1 + rng.nextInt(500)
            if (body) { if (hit) hits += 1 else misses += 1 }
            val dots = if (rng.nextInt(20) == 0) ".." else ""
            (if (a > 0) "h " else "") + s"$num ${spelling(rng.nextInt(spelling.size))}$dots"
          }
          val text = (List(name + noise) ++ occ ++ addrs).mkString(", ")
          sb.append(line(if (body) text else s"ADVERTISEMENT $text", x0, y0))
          if (body) lines += 1
          if (rng.nextInt(12) == 0) // indented continuation: no column
            sb.append(line(s"cor. ${streetTab(rng.nextInt(streetTab.size))._1}", x0 + 220, y0 + 32))
        }
        sb.append("  </div>\n</body></html>\n")
        val pageUuid = f"${rng.nextLong() & 0xffffffffffL}%010x"
        entries += ((s"$uuid/$p.img${1000 + p}.$pageUuid.processed.hocr",
          sb.toString.getBytes(UTF_8)))
      }
      entries += ((s"$uuid/thumbs/cover.jpg", Array.fill(2048)(rng.nextInt(256).toByte)))
      entries += ((s"$uuid/README.txt", s"volume $uuid, scanned $year".getBytes(UTF_8)))
      val bytes = tarGz(entries.result())
      Files.write(dir.resolve("remote").resolve(s"$uuid.tar.gz"), bytes)
      VolumeTruth(uuid, yMin, yMax, deadIdx(i), counts(i), lines, hits, misses,
        bytes.length.toLong) -> (year, startPage, endPage, columnCount)
    }
    val rows = truths.map { case (v, (year, sp, ep, cc)) =>
      s"<tr><td>${v.uuid}</td><td>$year</td><td>$sp</td><td>$ep</td><td>$cc</td></tr>"
    } ++ Seq( // rows the manifest parser must drop: no column count, no year
      "<tr><td>ffffffff-9998</td><td>1852</td><td>3</td><td>9</td><td></td></tr>",
      "<tr><td>ffffffff-9999</td><td></td><td>3</td><td>9</td><td>2</td></tr>")
    Files.writeString(dir.resolve("manifest.html"),
      "<html><body><table>\n<thead><tr><th>uuid</th><th>year</th>" +
        "<th>startPage</th><th>endPage</th><th>columnCount</th></tr></thead>\n" +
        s"<tbody>\n${rows.mkString("\n")}\n</tbody></table></body></html>\n")
    Files.writeString(dir.resolve("truth.tsv"), truths.map { case (v, _) =>
      Seq(v.uuid, v.yearMin, v.yearMax, v.dead, v.pages, v.lines, v.hits,
        v.misses, v.archiveBytes).mkString("\t")
    }.mkString("", "\n", "\n"))
  }

  private def load(dir: Path, seed: Long, shape: Shape): Corpus = {
    val vols = Files.readAllLines(dir.resolve("truth.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('\t')).map { f =>
        VolumeTruth(f(0), f(1).toInt, f(2).toInt, f(3).toBoolean, f(4).toInt,
          f(5).toLong, f(6).toLong, f(7).toLong, f(8).toLong)
      }
    Corpus(dir, seed, shape, vols, Files.readString(dir.resolve("manifest.html")))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
