package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Steal

/** SHA-256 of every oracle SQL string in [[SparkEntry.oracleSql]], as
  * `name hash` lines sorted by name: the committed content of
  * `src/test/resources/oracle_sql.sha256`. A deliberate oracle change
  * rewrites that file with `sbt "Test/runMain graft.OracleSqlDigest"`
  * in the same commit. */
object OracleSqlDigest {
  val resource = "oracle_sql.sha256"

  def lines: Seq[String] = SparkEntry.oracleSql.toSeq.sorted.map {
    case (name, sql) =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
      s"$name $hex"
  }

  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get("src/test/resources", resource)
    java.nio.file.Files.writeString(out, lines.mkString("", "\n", "\n"))
    println(s"wrote ${lines.size} digests to $out")
  }
}

/** Plan-equivalence check for refactors: `Test/runMain graft.PlanDigest
  * <dataDir> [name,name,...|-] [planDir]` builds each registry query (or
  * the named ones; `-` for all) over `dataDir` in turn and prints `name
  * sha256`, the hash of its optimized plan's tree string with
  * expression ids, RDD ids and temp-dir paths masked; with `planDir` it
  * also writes each masked tree to `planDir/<name>.txt`. The tree is
  * not canonicalized: canonicalization orders commutative operands by
  * hash codes that include a JVM-identity class hash, so the same plan
  * prints differently from one run to the next.
  * Run it on two trees and diff the output: a line that matches means
  * the refactor left that plan as it was. Run it twice on one tree to
  * find the plans that differ between runs (a random seed or a
  * collected value in the plan). A build that commits state (index
  * chains, streaming) may differ in what the masks do not cover;
  * compare those by output instead. */
object PlanDigest {
  def masked(plan: String): String = plan
    .replaceAll("#\\d+L?", "#")
    .replaceAll("RDD\\[\\d+\\]", "RDD[]")
    .replaceAll("(file:)?" + java.util.regex.Pattern.quote(
      System.getProperty("java.io.tmpdir")) + "[^\\s,\\])]*", "<tmp>")

  def main(args: Array[String]): Unit = {
    val only = args.lift(1).filter(_ != "-")
      .map(_.split(",").map(_.trim).toSet)
    val planDir = args.lift(2).map(java.nio.file.Paths.get(_))
    planDir.foreach(java.nio.file.Files.createDirectories(_))
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- SparkEntry.registry.sortBy(_.name)
         if only.forall(_.contains(q.name))) {
      val line = try {
        val plan = q.build(spark, args(0)).queryExecution.optimizedPlan
        val text = masked(plan.treeString)
        planDir.foreach(d =>
          java.nio.file.Files.writeString(d.resolve(s"${q.name}.txt"), text))
        val md = java.security.MessageDigest.getInstance("SHA-256")
        md.digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map(b => f"${b & 0xff}%02x").mkString
      } catch { case e: Throwable => s"FAILED ${e.getClass.getSimpleName}" }
      finally { spark.catalog.clearCache(); queries.Q.cleanupScratch() }
      println(s"${q.name} $line")
    }
    spark.stop()
  }
}

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

  test("PlanDigest masks expression ids, RDD ids and temp paths only") {
    val tmp = System.getProperty("java.io.tmpdir")
    val a = s"Project [id#12L, x#3]\n+- LogicalRDD MapPartitionsRDD[7], " +
      s"Relation [id#12L] parquet file:$tmp/graft_x123/t, false"
    val b = s"Project [id#40L, x#9]\n+- LogicalRDD MapPartitionsRDD[91], " +
      s"Relation [id#40L] parquet $tmp/graft_x987/t, false"
    assert(PlanDigest.masked(a) == PlanDigest.masked(b))
    assert(PlanDigest.masked(a) != PlanDigest.masked(a.replace("x#3", "y#3")))
  }

  test("oracle SQL is byte-stable: every query's text matches its committed digest") {
    val in = getClass.getResourceAsStream(s"/${OracleSqlDigest.resource}")
    assert(in != null, s"missing test resource ${OracleSqlDigest.resource}")
    val committed =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val Array(name, hash) = l.split(" ", 2); name -> hash }.toMap
      finally in.close()
    val current = OracleSqlDigest.lines.map { l =>
      val Array(name, hash) = l.split(" ", 2); name -> hash }.toMap
    val changed = (committed.keySet ++ current.keySet).toSeq.sorted.flatMap {
      n => (committed.get(n), current.get(n)) match {
        case (Some(a), Some(b)) if a == b => None
        case (Some(_), Some(_)) => Some(s"$n: text changed")
        case (None, _) => Some(s"$n: appeared")
        case (_, None) => Some(s"$n: disappeared")
      }
    }
    if (changed.nonEmpty)
      fail(s"oracle SQL differs from ${OracleSqlDigest.resource} (a " +
        "deliberate change regenerates it with OracleSqlDigest.main):\n  " +
        changed.mkString("\n  "))
  }
}
