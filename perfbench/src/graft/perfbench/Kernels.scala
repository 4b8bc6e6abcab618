package graft.perfbench

import graft.imaging.{PHash, Raster}
import graft.media.DefaultMedia
import graft.model.Doc
import graft.pipeline.{Blocking, GraftConfig}
import graft.text.{JaroWinkler, MinHash, SimHash, Tokenize}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel layer: ns per row of each per-document / per-pair kernel on one
  * thread, over a fixed sample of corpus docs. Every kernel first runs
  * warm-up passes for at least half a second (so the JIT has compiled it),
  * then `reps` timed passes; the median pass is reported.
  */
object Kernels {
  @volatile private var sink = 0L

  private def nsPerRow(rows: Int, reps: Int)(pass: => Long): Double = {
    val warmUntil = System.nanoTime() + 500000000L
    var w = 0
    while (w < 10 || System.nanoTime() < warmUntil) { sink ^= pass; w += 1 }
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      sink ^= pass
      (System.nanoTime() - t0).toDouble / math.max(rows, 1)
    }
    Stats.median(times)
  }

  def measure(sample: Seq[Doc], cfg: GraftConfig, reps: Int = 7): Map[String, Double] = {
    val texts = sample.map(_.concatText).toArray
    val shingles = texts.map(Tokenize.shingleHashes(_, cfg.shingleK))
    val sigs = shingles.map(s => if (s.isEmpty) Array.emptyLongArray else MinHash.signature(s, cfg.minhashK))
    val rasters: Array[Raster] = sample.flatMap(_.mediaRefs)
      .flatMap(r => DefaultMedia.resolve(r).toOption).toArray
    val mediaHashes = rasters.map(r => PHash.hashes(r, cfg.useDct))
    val capped = texts.map(t => UTF8String.fromString(t.take(cfg.scoreTextCap)))
    val cappedS = texts.map(_.take(cfg.scoreTextCap))
    val pairs = texts.indices.slice(1, 51).map(i => (i - 1, i)).toArray

    Map(
      "kernel.shingle_ns" -> nsPerRow(texts.length, reps) {
        var h = 0L; var i = 0
        while (i < texts.length) { h += Tokenize.shingleHashes(texts(i), cfg.shingleK).length; i += 1 }
        h
      },
      "kernel.minhash_ns" -> nsPerRow(shingles.length, reps) {
        var h = 0L; var i = 0
        while (i < shingles.length) {
          if (shingles(i).nonEmpty) h ^= MinHash.signature(shingles(i), cfg.minhashK)(0)
          i += 1
        }
        h
      },
      "kernel.simhash_ns" -> nsPerRow(texts.length, reps) {
        var h = 0L; var i = 0
        while (i < texts.length) { h ^= SimHash.simhash64(texts(i)); i += 1 }
        h
      },
      "kernel.phash_ns" -> nsPerRow(rasters.length, reps) {
        var h = 0L; var i = 0
        while (i < rasters.length) { h ^= PHash.hashes(rasters(i), cfg.useDct)(0); i += 1 }
        h
      },
      "kernel.band_keys_ns" -> nsPerRow(sigs.length, reps) {
        var h = 0L; var i = 0
        while (i < sigs.length) {
          if (sigs(i).nonEmpty) h += MinHash.bandKeys(sigs(i), cfg.textBands).length
          if (i < mediaHashes.length) {
            val m = mediaHashes(i); var j = 0
            while (j < m.length) {
              h += Blocking.mediaBandKeys(m(j), cfg.mediaBlockBits, cfg.mediaBlocksPerKey, j % cfg.slots).length
              j += 1
            }
          }
          i += 1
        }
        h
      },
      "kernel.jw_ns" -> nsPerRow(pairs.length, reps) {
        var h = 0.0; var i = 0
        while (i < pairs.length) { h += JaroWinkler.jaroWinkler(cappedS(pairs(i)._1), cappedS(pairs(i)._2)); i += 1 }
        h.toLong
      },
      "kernel.lev_ns" -> nsPerRow(pairs.length, reps) {
        var h = 0L; var i = 0
        while (i < pairs.length) { h += capped(pairs(i)._1).levenshteinDistance(capped(pairs(i)._2)); i += 1 }
        h
      })
  }
}
