package perfbench

import java.nio.file.{Files, Paths}

/** Entry point of the benchmark JVM, started by perfbench/run.py:
  * `perfbench.Runner mode=batch|stream out=<file> key=value...`. Runs one
  * workload and writes its raw measurements as JSON to `out`. */
object Runner {
  def main(args: Array[String]): Unit = {
    Log.phase("jvm start")
    val o = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val raw = o("mode") match {
      case "batch" => BatchBench.run(o)
      case "stream" => StreamBench.run(o)
    }
    Files.writeString(Paths.get(o("out")), Json.write(raw))
  }
}
