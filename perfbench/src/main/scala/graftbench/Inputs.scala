package graftbench

import java.nio.file.{Files, Path}

import scala.util.Random

import graft.etl.NexusFixtures

/** Seeded input generators. Every input the program sees comes from here
  * and depends only on the seed, so the same seed gives the same files and
  * tables. The generators keep the amount of work per seed fixed (the
  * seed permutes and picks, it does not resize), so runs with different
  * seeds measure the same work and their spread is the system's, not the
  * inputs'.
  */
object Inputs {

  /** Events per pulse summed over a fixture run's four banks: banks 1-3
    * carry 1, 2 and 3 events per pulse in some order, the monitor 1. */
  val EventsPerPulse = 7

  /** One `.nxs.h5` run file: fixture run index and pulse scale. */
  final case class RunFile(run: Int, scale: Int) {
    def pulses: Int = NexusFixtures.pulses(run) * scale
    def events: Long = EventsPerPulse.toLong * pulses
    def runNumber: Long = 1000L + run
    def runId: String = s"NXS:$runNumber"
    def fileName: String = s"run_$runNumber.nxs.h5"
    def users: Int = 1 + run % 2
  }

  /** Pulse-count shares of the files in one batch: one file 16x the
    * smallest, so with one task per file the large file sets the batch's
    * time. */
  val ScaleMix: Seq[Int] = Seq(1, 2, 4, 16)

  /** `nBatches` batches of [[ScaleMix]]-sized files. The seed picks the
    * run indices (all distinct) and which file of a batch gets which
    * share; the pulse scale is chosen so a file lands within a few
    * percent of `basePulses x share` pulses whatever its run index, so
    * every batch carries about the same number of events. */
  def runBatches(seed: Long, nBatches: Int, basePulses: Int): Seq[Seq[RunFile]] = {
    val rnd = new Random(seed)
    val runs = rnd.shuffle((0 until 4000).toVector).take(nBatches * ScaleMix.size)
    runs.grouped(ScaleMix.size).toSeq.map { group =>
      group.zip(rnd.shuffle(ScaleMix)).map { case (r, share) =>
        val target = basePulses.toDouble * share
        RunFile(r, math.max(1, math.round(target / NexusFixtures.pulses(r)).toInt))
      }
    }
  }

  /** Write `files` into `dir`; returns the bytes written. */
  def writeRunFiles(dir: Path, files: Seq[RunFile]): Long = {
    Files.createDirectories(dir)
    files.map { f =>
      val bytes = NexusFixtures.runFileBytes(f.run, f.scale)
      Files.write(dir.resolve(f.fileName), bytes)
      bytes.length.toLong
    }.sum
  }

  /** The delete-carrying quarter of `runs`: one seeded run among those
    * with the most pulses (so a delete-carrying large run always exists
    * to query), the rest seeded among the others. Each loses every 16th
    * pulse from a seeded phase on. Returns run -> vetoed pulse indices. */
  def vetoedPulses(seed: Long, runs: Seq[RunFile]): Map[RunFile, Seq[Long]] = {
    val rnd = new Random(seed ^ 0x5eedL)
    val top = runs.map(_.pulses).max
    val (large, rest) = runs.sortBy(_.run).partition(_.pulses * 2 > top)
    val chosen = large(rnd.nextInt(large.size)) +:
      rnd.shuffle(rest).take(math.max(0, runs.size / 4 - 1))
    chosen.map { f =>
      val phase = rnd.nextInt(16)
      f -> (phase until f.pulses by 16).map(_.toLong)
    }.toMap
  }

  // ---- embeddings -----------------------------------------------------------

  final case class Embeddings(vectors: Seq[(Long, Array[Float])], probeIds: Seq[Long])

  /** `n` vectors of `dim` floats around `clusters` seeded centres (unit
    * Gaussian centres, 0.35 per-coordinate noise), and `nProbes` probe
    * ids: each probe is a corpus vector, so the probe set is a seeded
    * sample of the perturbed corpus itself. The seed shuffles which
    * vector joins which centre, but every centre gets the same number of
    * vectors, and with many more centres than IVF lists each list
    * gathers many centres: lists come out about the same size, so a
    * probe scans about the same number of rows whatever the seed (with a
    * few large random clusters the rows scanned, and the search time,
    * moved by a fifth from seed to seed). */
  def embeddings(seed: Long, n: Int, dim: Int, clusters: Int, nProbes: Int): Embeddings = {
    val rnd = new Random(seed ^ 0xe3bL)
    val centres = Array.fill(clusters)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val members = rnd.shuffle((0 until n).toVector)
    val vecs = (0 until n).map { i =>
      val c = centres(members(i) % clusters)
      (i.toLong, c.map(x => (x + 0.35 * rnd.nextGaussian()).toFloat))
    }
    Embeddings(vecs, rnd.shuffle((0 until n).toVector).take(nProbes).map(_.toLong).sorted)
  }
}
