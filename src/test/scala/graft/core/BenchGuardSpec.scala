package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The bench outlier guard is only as good as its baseline parsing: the
  * driver's BENCH_rN.json wraps the bench JSON line backslash-escaped inside
  * a "tail" string, and BENCH_LOCAL_BASELINE.json is plain JSON — both must
  * parse from the repo root (where Bench runs), scoped to the matching sf
  * and cpu count.
  */
class BenchGuardSpec extends AnyFunSuite {

  private def cpusOf(text: String): Option[String] =
    """"cpus"\s*:\s*([0-9]+)""".r.findFirstMatchIn(text).map(_.group(1))

  test("readPrevBenchTimes parses the real round artifact and local baseline") {
    // derive the sf dir and an expected key from the artifact itself, so a
    // checkout whose baseline records a different sf (or query set) skips
    // rather than fails
    val local = new java.io.File("BENCH_LOCAL_BASELINE.json")
    assume(local.exists, "no BENCH_LOCAL_BASELINE.json in cwd")
    val text = scala.io.Source.fromFile(local).mkString
    val sfDir = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(text).map(_.group(1))
    assume(sfDir.isDefined, "local baseline has no \"sf\" field")
    val cpus = cpusOf(text)
    assume(cpus.isDefined, "local baseline has no \"cpus\" field")
    // pick the expected key from inside the "queries" block — the only part
    // readPrevBenchTimes parses — so stray top-level numeric fields cannot
    // turn this into a hard failure
    val someKey = """"queries"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(text)
      .flatMap(m => """"([a-z0-9_]+)"\s*:\s*[0-9]""".r
        .findFirstMatchIn(m.group(1)).map(_.group(1)))
    assume(someKey.isDefined, "local baseline has no query entries")
    val times = graft.Bench.readPrevBenchTimes(sfDir.get, cpus.get)
    assert(times.nonEmpty, "no baselines parsed from BENCH_r*.json / BENCH_LOCAL_BASELINE.json")
    assert(times.contains(someKey.get), s"missing ${someKey.get} in ${times.keys.toSeq.sorted}")
    assert(times.values.forall(_ > 0), "non-positive baseline survived filtering")
  }

  test("readPrevBenchTimes is empty for a different scale factor") {
    // the cpu count every committed artifact records, so only the sf differs
    val local = new java.io.File("BENCH_LOCAL_BASELINE.json")
    val cpus  = if (local.exists) cpusOf(scala.io.Source.fromFile(local).mkString) else None
    val times = graft.Bench.readPrevBenchTimes("sf1.0-nonexistent", cpus.getOrElse("32"))
    assert(times.isEmpty, s"sf-scoping failed: $times")
  }

  test("readPrevBenchTimes parses the self-persisted artifact (BENCH_SELF.json)") {
    // the bench writes its full JSON line to BENCH_SELF.json so the committed
    // record survives the driver's lossy stdout capture; that file must also
    // feed the floor guard
    val self = new java.io.File("BENCH_SELF.json")
    assume(self.exists, "no BENCH_SELF.json in cwd (bench not yet run here)")
    val text  = scala.io.Source.fromFile(self).mkString
    val sfDir = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(text).map(_.group(1))
    assume(sfDir.isDefined, "BENCH_SELF.json has no \"sf\" field")
    val cpus = cpusOf(text)
    assume(cpus.isDefined, "BENCH_SELF.json has no \"cpus\" field")
    val someKey = """"queries"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(text)
      .flatMap(m => """"([a-z0-9_]+)"\s*:\s*[0-9]""".r
        .findFirstMatchIn(m.group(1)).map(_.group(1)))
    assume(someKey.isDefined, "BENCH_SELF.json has no query entries")
    val times = graft.Bench.readPrevBenchTimes(sfDir.get, cpus.get)
    assert(times.contains(someKey.get),
      s"missing ${someKey.get} from BENCH_SELF.json in ${times.keys.toSeq.sorted}")
  }

  test("readPrevBenchTimes is empty for the same sf at a different cpu count") {
    // a local[32] floor must not resample a 4-core run; a source that
    // records no cpu count contributes no floors at all
    val dir = java.nio.file.Files.createTempDirectory("bench-guard").toFile
    def write(name: String, json: String): Unit =
      java.nio.file.Files.writeString(new java.io.File(dir, name).toPath, json)
    try {
      val sf = "/data/sf0.1"
      write("BENCH_LOCAL_BASELINE.json",
        s"""{"sf": "$sf", "cpus": 32, "queries": {"q1_agg": 0.3, "topk_users": 0.2}}""")
      write("BENCH_SELF.json", s"""{"queries":{"q1_agg":0.1},"sf":"$sf"}""")
      assert(graft.Bench.readPrevBenchTimes(sf, "32", dir) == Map("q1_agg" -> 0.3, "topk_users" -> 0.2))
      assert(graft.Bench.readPrevBenchTimes(sf, "4", dir).isEmpty)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}
