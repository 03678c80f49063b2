package perfbench

/** Entry point of the benchmark harness. `run.py` starts it with
  * `key=value` settings; it runs one workload and writes
  * `<out>/result.json` with raw samples, for `run.py` to check and
  * summarise. */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = Conf.parse(args)
    val out = new Out(conf.out)
    conf.workload match {
      case "curation" => Curation.run(conf, out)
      case "ingest" => Ingest.run(conf, out)
      case w => sys.error(s"unknown workload $w")
    }
    out.write()
  }
}
