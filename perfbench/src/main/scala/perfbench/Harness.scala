package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

/** Benchmark entry point. Runs one workload and prints one JSON result line
  * last on stdout; writes the run's details next to its work directory.
  *
  *   perfbench.Harness --workload <er_web|catalog> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir> --data <sf dir>
  *     --goldens <file> [--record-goldens]
  */
object Harness {

  /** Set-up is repeated this many times per run; `setup_s` is the median. */
  val SetupReps = 3

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean, work: File,
      data: File, goldens: File, recordGoldens: Boolean, cores: Int)

  def parse(argv: Array[String]): Args = {
    val flags = Set("--record-goldens")
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case f :: tail if flags(f) => go(tail, acc + (f -> "1"))
      case k :: v :: tail if k.startsWith("--") => go(tail, acc + (k -> v))
      case Nil => acc
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    val m = go(argv.toList, Map.empty)
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val trace = need("--trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt, trace,
      new File(need("--work")), new File(need("--data")), new File(need("--goldens")),
      m.contains("--record-goldens"), Runtime.getRuntime.availableProcessors)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(args.seconds >= 1, "--seconds must be at least 1")
    args.work.mkdirs()
    val result = args.workload match {
      case "er_web" => Er.run(args)
      case "catalog" => Catalog.run(args)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val record = new File(args.work, s"${args.workload}-trace${if (args.trace) 1 else 0}.json")
    java.nio.file.Files.write(record.toPath, result.record.getBytes(UTF_8))
    println(result.line)
  }
}
