package perfbench

import java.nio.file.{Files, Paths}

import graft.datagen.EventGenerator

/** The load generator: a separate single-threaded process that drops the
  * ingest workload's CSV files into the watched directory on a fixed
  * schedule (open loop), with the engine's own atomic tmp-file + rename.
  * The engine sees only the files.
  *
  * Usage: GenMain <dir> <seed> <eventsPerFile> <files> <periodMs> <startEpochUs> <logFile>
  *
  * File i is due at startEpochUs + i * periodMs. The log gets one line per
  * file: `index dueUs droppedUs`.
  */
object GenMain {
  def main(args: Array[String]): Unit = {
    val Array(dir, seedS, nS, filesS, periodS, startS, logFile) = args
    val (seed, n, files) = (seedS.toLong, nS.toInt, filesS.toInt)
    val (periodUs, startUs) = (periodS.toLong * 1000L, startS.toLong)
    val gen = new EventGenerator(seed = seed, anomalyRate = IngestInputs.AnomalyRate)
    val out = Files.newBufferedWriter(Paths.get(logFile))
    try {
      (0 until files).foreach { i =>
        // build the file before its due time so only the write is on the clock
        val events = IngestInputs.fileEvents(seed, i, n)
        val due = startUs + i * periodUs
        var wait = due - Clock.nowUs()
        while (wait > 0) {
          Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
          wait = due - Clock.nowUs()
        }
        gen.writeCsvAtomic(Paths.get(dir), IngestInputs.fileName(i), events)
        out.write(s"$i $due ${Clock.nowUs()}\n")
        out.flush()
      }
    } finally out.close()
  }
}
