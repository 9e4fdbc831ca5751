package perfbench

import graft.geocode.Geocoder
import graft.parse.EntryParser
import graft.sources.{Hocr, HocrArchive}
import java.nio.file.{Files, Path}

/** Single-threaded timings of the per-unit kernels on a fixed sample
  * (seed 0, 8 volumes): archive decode, column detection, entry parsing
  * and address normalization. Per-unit times repeat better than wall
  * time, so they show a kernel change that a run's wall would blur.
  */
object Kernels {

  private val SampleShape = Corpus.Shape(volumes = 8, bodyPages = 80,
    minEntries = 30, maxEntries = 50, streets = 150, numbersPerStreet = 160,
    hitRate = 0.8, deadRate = 0.02)

  final case class Timing(name: String, perUnit: Double, unit: String)

  /** Median per-pass time in ms after a warm-up; `pass` returns a checksum
    * so the JIT cannot drop the work.
    */
  private def timePass(pass: () => Long): Double = {
    var sink = 0L
    val warm = System.nanoTime()
    while (System.nanoTime() - warm < 300e6) sink += pass()
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (times.size < 5 || System.nanoTime() - t0 < 500e6) {
      val t = System.nanoTime()
      sink += pass()
      times += (System.nanoTime() - t) / 1e6
    }
    if (sink == 42) println("")
    Stats.median(times.toSeq)
  }

  def run(root: Path): Seq[Timing] = {
    val c = Corpus.ensure(root, 0L, SampleShape)
    val manifest = graft.sources.Manifest.parseTable(c.manifestHtml).map(m => m.uuid -> m).toMap
    val archives = c.volumes.map { v =>
      val m = manifest(v.uuid)
      (Files.readAllBytes(c.remoteDir.resolve(s"${v.uuid}.tar.gz")), m.startPage, m.endPage,
        m.columnCount)
    }
    val pages = archives.flatMap { case (b, sp, ep, cc) =>
      HocrArchive.readArchive(b, sp, ep).map(p => (p._4, cc))
    }
    val texts = pages.flatMap { case (h, cc) =>
      Hocr.detectPage(h, cc).toSeq.flatten.filter(_.columnIndex.isDefined)
        .map(_.text.replaceAll("\\.+", "."))
    }
    val addresses = texts.flatMap(t => EntryParser.parse(t).locations.map(_.value))
    val mb = archives.map(_._1.length.toLong).sum / 1048576.0
    Seq(
      Timing("sources.HocrArchive.read_ms_per_mb", timePass(() =>
        archives.map { case (b, sp, ep, _) => HocrArchive.readArchive(b, sp, ep).size.toLong }
          .sum) / mb, "ms/MB"),
      Timing("sources.Hocr.detect_us_per_page", timePass(() =>
        pages.map { case (h, cc) => Hocr.detectPage(h, cc).map(_.size).getOrElse(0).toLong }
          .sum) * 1e3 / pages.size, "us"),
      Timing("parse.EntryParser.us_per_line", timePass(() =>
        texts.map(t => EntryParser.parse(t).locations.size.toLong).sum) * 1e3 / texts.size,
        "us"),
      Timing("geocode.Geocoder.normalize_us_per_address", timePass(() =>
        addresses.map(a => Geocoder.normalizeAddress(a).length.toLong).sum) * 1e3 /
        addresses.size, "us"))
  }
}
