package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Steal

/** Quietness-evidence plumbing (r19 VERDICT task #6): /proc/stat
  * parsing, window pct math, and the floor-commit REFUSAL verdict
  * Bench applies before overwriting bench/BENCH.json, plus a guard that
  * the docs' `runMain` lines name mains that exist. Pure JVM — no
  * Spark session needed. */
class BenchInfraSpec extends AnyFunSuite {

  test("parseStatLine reads steal and total ticks from an aggregate cpu line") {
    // user nice system idle iowait irq softirq steal guest guest_nice
    val line = "cpu  100 2 30 860 5 0 3 40 7 1"
    // guest columns are inside user/nice already — total sums first 8
    assert(Steal.parseStatLine(line) === Some((40L, 1040L)))
    // pre-steal kernels (< 8 fields after "cpu") read steal = 0
    assert(Steal.parseStatLine("cpu 10 0 5 85") === Some((0L, 100L)))
    assert(Steal.parseStatLine("cpu0 10 0 5 85") === None)
    assert(Steal.parseStatLine("intr 12345") === None)
    assert(Steal.parseStatLine("cpu ten 0 5 85") === None)
  }

  test("pct is the steal share of the sampled window") {
    val before = Some((40L, 1000L))
    val after = Some((50L, 1200L))
    assert(Steal.pct(before, after) === Some(5.0)) // 10 of 200 ticks
    assert(Steal.pct(None, after) === None)
    assert(Steal.pct(before, None) === None)
    assert(Steal.pct(before, before) === None) // empty window
  }

  test("on this host, sample() round-trips through the real /proc/stat") {
    // Linux CI/dev hosts only — sample() returns None elsewhere, and
    // that must also be accepted (treated as quiet) by the verdict.
    Steal.sample() match {
      case Some((steal, total)) =>
        assert(steal >= 0L); assert(total > 0L); assert(steal <= total)
      case None => // off-Linux: nothing to assert, verdict treats as quiet
    }
  }

  test("floor refusal arm: verdict rejects a floor whose min samples saw steal") {
    // quiet run: every min-achieving sample under threshold
    assert(Steal.verdict(Seq(Some(0.0), Some(1.3), None)) === (true, 1.3))
    // steal run: ONE noisy min sample refuses the whole floor — this is
    // the arm Bench exercises before overwriting bench/BENCH.json
    // (writes BENCH_REJECTED.json instead)
    val (quiet, worst) = Steal.verdict(Seq(Some(0.4), Some(9.7), Some(0.1)))
    assert(!quiet)
    assert(worst === 9.7)
    // exactly-at-threshold passes; just-over fails
    assert(Steal.verdict(Seq(Some(2.0)))._1)
    assert(!Steal.verdict(Seq(Some(2.01)))._1)
    // custom threshold
    assert(Steal.verdict(Seq(Some(9.7)), thresholdPct = 10.0)._1)
    // no samples at all (off-Linux host): quiet by definition
    assert(Steal.verdict(Seq(None, None)) === (true, 0.0))
    assert(Steal.verdict(Nil) === (true, 0.0))
  }

  test("docs name only mains that exist: every runMain graft.<X> loads") {
    val root = Iterator.iterate(
        java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
      .getOrElse(fail("no build.sbt above the working directory"))
    val docs = Seq("README.md", "CLAUDE.md", ".claude/skills/verify/SKILL.md")
    val runMain = """runMain (graft\.[\w.]+)""".r
    val targets = docs.flatMap { doc =>
      val text = java.nio.file.Files.readString(root.resolve(doc))
      runMain.findAllMatchIn(text).map(m => doc -> m.group(1))
    }.distinct
    assert(targets.nonEmpty, "no runMain lines found in the docs")
    val missing = targets.filterNot { case (_, main) =>
      try { // load without initializing: object bodies may build state
        Class.forName(s"$main$$", false, getClass.getClassLoader)
          .getMethod("main", classOf[Array[String]]); true
      } catch {
        case _: ClassNotFoundException | _: NoSuchMethodException => false
      }
    }
    assert(missing.isEmpty, s"docs name mains that do not exist: $missing")
  }
}
