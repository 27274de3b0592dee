package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanized doc-count gate (verdict r9 task 4).
  *
  * Rounds 7, 8 and 9 each shipped the same defect: a commit fixed the
  * "N ScalaTest cases" lines in README/SCALE/COVERAGE and added a new
  * test in the SAME commit, re-staling the lines instantly. Manual
  * discipline failed three times, so the gate is now part of
  * `sbt test`: every count declaration in the three docs is parsed
  * and asserted against the LIVE values — the suite inventory
  * (reflective `Suite.testNames` over every spec class, so
  * loop-registered tests like DeterminismSpec's count correctly) and
  * `SparkEntry.queries.size`. A stale doc is a red build.
  *
  * Gated patterns (every occurrence in README.md, SCALE.md,
  * COVERAGE.md must match the live value):
  *   - `N ScalaTest` and `N/N ScalaTest`  → live test-case count
  *   - `N registered queries`             → SparkEntry.queries.size
  *   - `N/N oracle`                       → SparkEntry.queries.size
  *   - `across N suites`                  → live suite count
  * Historical narrative must simply avoid these exact phrasings
  * (SCALE.md's round-4 header was reworded once, in round 10).
  */
class CountsSpec extends AnyFunSuite {

  private val testDir = new java.io.File("src/test/scala/graft")
  private val docs = Seq("README.md", "SCALE.md", "COVERAGE.md")

  private def readFile(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  /** Suite classes discovered from source, not hand-listed — a new
    * spec file is picked up automatically. */
  private lazy val suiteNames: Seq[String] = {
    val re = """class\s+(\w+)\s+extends\s+(SparkSpec|AnyFunSuite)""".r
    testDir.listFiles().filter(_.getName.endsWith(".scala")).toSeq
      .flatMap(f => re.findAllMatchIn(readFile(f)).map(_.group(1)))
      .sorted
  }

  /** Live test-case count: instantiate each suite and ask ScalaTest
    * itself — the only count that agrees with what `sbt test` runs,
    * including dynamically registered (looped) tests. */
  private lazy val liveTests: Int = suiteNames.map { c =>
    Class.forName("graft." + c).getDeclaredConstructor()
      .newInstance().asInstanceOf[org.scalatest.Suite].testNames.size
  }.sum

  private lazy val liveQueries: Int = SparkEntry.queries.size

  /** Every .scala file under `d`, recursively. */
  private def sources(d: java.io.File): Seq[java.io.File] =
    d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  /** The `src/main` sources the code gates below scan. */
  private lazy val mainSources: Seq[java.io.File] =
    sources(new java.io.File("src/main"))

  /** Pure checker so the regression test below can demonstrate the
    * round-9 slip would have been caught. Returns violations as
    * "file:line: declared N, actual M (pattern)". */
  private[graft] def docViolations(file: String, text: String,
      tests: Int, queries: Int, suites: Int): Seq[String] = {
    // patterns allow any whitespace (incl. a line wrap) between the
    // number and its noun — "341/341\noracle" must not evade the gate
    val rules: Seq[(scala.util.matching.Regex, Int, String)] = Seq(
      ("""(\d+)/(\d+)\s+ScalaTest""".r, tests, "N/N ScalaTest"),
      ("""(?<!/)\b(\d+)\s+ScalaTest""".r, tests, "N ScalaTest"),
      ("""(\d+)\s+registered\s+queries""".r, queries,
        "N registered queries"),
      ("""(\d+)/(\d+)\s+oracle""".r, queries, "N/N oracle"),
      ("""across\s+(\d+)\s+suites""".r, suites, "across N suites"))
    rules.flatMap { case (re, want, label) =>
      re.findAllMatchIn(text).flatMap { m =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        (1 to m.groupCount).map(g => m.group(g).toInt)
          .filter(_ != want)
          .map(got => s"$file:$line: declared $got, " +
            s"actual $want ($label)")
      }
    }
  }

  test("doc counts match live suite/query inventory") {
    val viols = docs.flatMap { d =>
      docViolations(d, readFile(new java.io.File(d)),
        liveTests, liveQueries, suiteNames.size)
    }
    assert(viols.isEmpty,
      "stale doc counts (fix the docs in the SAME commit that " +
        "changed the tests/queries):\n" + viols.mkString("\n"))
  }

  /** Pure checker for the driver-gate citation (testable below).
    * Given the set of TRACKED gate filenames and the green count of
    * the latest one, returns violations against the README text. */
  private[graft] def gateCiteViolations(trackedGates: Seq[String],
      greenOfLatest: Int, readme: String): Seq[String] = {
    if (trackedGates.isEmpty) return Seq("no committed driver-gate " +
      "files found (git ls-files CORRECTNESS_r*.json is empty)")
    val rN = trackedGates
      .map(n => "\\d+".r.findFirstIn(n).get.toInt).max
    val cite =
      """Latest driver gate CORRECTNESS_r0*(\d+):\s*\**(\d+)/(\d+)""".r
        .findFirstMatchIn(readme)
    if (cite.isEmpty) return Seq(
      "README must cite 'Latest driver gate CORRECTNESS_rN: X/X'")
    val m = cite.get
    val v1 = if (m.group(1).toInt != rN) Seq(
      s"README cites r${m.group(1)}; latest committed gate is r$rN")
    else Nil
    val v2 = if (m.group(2).toInt != greenOfLatest ||
        m.group(3).toInt != greenOfLatest) Seq(
      s"README cites ${m.group(2)}/${m.group(3)}; " +
        s"CORRECTNESS_r$rN has $greenOfLatest green rows")
    else Nil
    v1 ++ v2
  }

  test("README cites the LATEST committed driver gate, with its count") {
    // round-12 verdict stretch 9, repaired in round 13: "Latest
    // driver gate CORRECTNESS_rN: X/X" must cite the newest gate file
    // the builder could have known about. Discovery is restricted to
    // GIT-TRACKED files: the driver drops CORRECTNESS_r{N+1}.json
    // into the worktree (sometimes untracked) AFTER the builder's
    // final commit, and a working-directory glob would retroactively
    // red the build at every round boundary (the round-12 judge hit
    // exactly that). `git ls-files` sees only what a commit could
    // have cited.
    val tracked = {
      val p = new ProcessBuilder("git", "ls-files",
        "CORRECTNESS_r*.json").redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream)
        .getLines().toList
      p.waitFor()
      out.filter(_.matches("CORRECTNESS_r\\d+\\.json"))
    }
    assert(tracked.nonEmpty, "git ls-files found no gate files")
    val latest = tracked.maxBy(n =>
      "\\d+".r.findFirstIn(n).get.toInt)
    val green = "\"hash_match\": true".r
      .findAllMatchIn(readFile(new java.io.File(latest))).size
    val viols = gateCiteViolations(tracked, green,
      readFile(new java.io.File("README.md")))
    assert(viols.isEmpty, viols.mkString("\n"))
  }

  test("gate survives an untracked newer driver file (round boundary)") {
    // Simulates the round-12 judge failure: the driver wrote an
    // untracked CORRECTNESS_r13.json after the builder's last commit.
    // The checker only sees TRACKED names, so a README citing r12 is
    // green even though r13 exists on disk...
    val readme = "Latest driver gate CORRECTNESS_r12: **347/347**"
    val tracked = Seq("CORRECTNESS_r11.json", "CORRECTNESS_r12.json")
    assert(gateCiteViolations(tracked, 347, readme).isEmpty,
      "untracked newer gate file must not stale the citation")
    // ...but a stale citation of a TRACKED newer gate is still caught,
    val trackedNewer = tracked :+ "CORRECTNESS_r13.json"
    val v = gateCiteViolations(trackedNewer, 350, readme)
    assert(v.exists(_.contains("latest committed gate is r13")), s"$v")
    // ...as is a wrong green count for the right round.
    val v2 = gateCiteViolations(tracked, 345, readme)
    assert(v2.exists(_.contains("345 green rows")), s"$v2")
  }

  test("gate would have caught the round-9 slip (324 vs 325)") {
    // Round 9 shipped docs saying 324 while the live count was 325.
    val stale = "sbt test  # 324 ScalaTest cases\n" +
      "gates: 324/324 ScalaTest, 341/341 oracle hash-match\n" +
      "341 registered queries across 25 suites\n"
    val v = docViolations("README.md", stale,
      tests = 325, queries = 341, suites = 25)
    assert(v.exists(_.contains("declared 324, actual 325")),
      s"checker missed the N-ScalaTest slip: $v")
    assert(v.count(_.contains("324")) == 3, s"expected the bare form " +
      s"and both numbers of the N/N form flagged: $v")
    // and a query-count slip in the N/N oracle form
    val v2 = docViolations("SCALE.md", "gates: 341/341 oracle",
      tests = 325, queries = 343, suites = 25)
    assert(v2.exists(_.contains("declared 341, actual 343")))
  }

  test("src/main reads no settings beyond the harness deployment ones") {
    // Every environment variable or system property the library reads
    // is a setting someone can change under the oracle gate. The only
    // ones allowed are the harness deployment settings (input dir,
    // threads, query filter, reps, and the AQE switch whose two values
    // the AQE-invariance gate runs); a read whose name is not a string
    // literal cannot be checked and is reported as "<computed>".
    val allowed = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_ONLY", "SPARK_GRAFT_REPS", "SPARK_GRAFT_AQE")
    val access = """sys\.env|sys\.props|System\.getenv|System\.getProperty"""
    val named = ("(" + access + """)(?:\.\w+)?\(\s*"([^"]*)"""").r
    val reads = mainSources.flatMap { f =>
      readFile(f).split("\n").zipWithIndex.flatMap { case (line, i) =>
        val names = named.findAllMatchIn(line).map(_.group(2)).toSeq
        val unnamed = access.r.findAllMatchIn(line).size - names.size
        (names ++ Seq.fill(unnamed)("<computed>"))
          .map(n => (s"${f.getPath}:${i + 1}", n))
      }
    }
    assert(reads.nonEmpty, "scan found no reads at all (wrong directory?)")
    val extra = reads.filterNot(r => allowed(r._2))
    assert(extra.isEmpty, "settings read outside the harness set:\n" +
      extra.map { case (at, n) => s"$at: $n" }.mkString("\n"))
  }

  /** Every `.start()` on a `writeStream` chain in `text`, as
    * "file:line". The chain is followed through `.name`, bracketed
    * arguments (`(...)`, `{...}`, `[...]`, balanced, string literals
    * skipped), whitespace and whole-line comments. */
  private[graft] def streamStarts(file: String, text: String): Seq[String] = {
    val src = text.replaceAll("(?m)^[ \\t]*//.*$", "")
    val call = """\A\s*\.\s*(\w+)""".r
    def skipArgs(from: Int): Int = {
      var i = from
      var depth = 0
      var more = true
      while (more && i < src.length) {
        src(i) match {
          case '(' | '{' | '[' => depth += 1; i += 1
          case ')' | '}' | ']' if depth > 0 =>
            depth -= 1; i += 1
            if (depth == 0) more = false
          case '"' if depth > 0 =>
            i += 1
            while (i < src.length && src(i) != '"')
              i += (if (src(i) == '\\') 2 else 1)
            i += 1
          case c if depth > 0 || c.isWhitespace => i += 1
          case _ => more = false
        }
      }
      i
    }
    """\bwriteStream\b""".r.findAllMatchIn(src).toSeq.flatMap { m =>
      var i = skipArgs(m.end)
      var starts = Seq.empty[Int]
      var next = call.findFirstMatchIn(src.substring(i))
      while (next.isDefined) {
        if (next.get.group(1) == "start") starts :+= i + next.get.start(1)
        i = skipArgs(i + next.get.end)
        next = call.findFirstMatchIn(src.substring(i))
      }
      starts.map(at => s"$file:${src.substring(0, at).count(_ == '\n') + 1}")
    }
  }

  test("only the stream-scope helper starts a stream in src/main") {
    // DataStream.runAvailableNow sets the conf every stream starts
    // under (state partitions, checkpoint file manager, codegen
    // classloader); a writeStream chain started anywhere else would
    // run outside it.
    val helper = "src/main/scala/graft/streaming/DataStream.scala"
    val others = mainSources.filterNot(_.getPath == helper)
    assert(others.exists(f => readFile(f).contains(".writeStream")),
      "scan found no writeStream chain at all (wrong directory?)")
    val stray = others.flatMap(f => streamStarts(f.getPath, readFile(f)))
    assert(stray.isEmpty, "streams started outside " +
      "DataStream.runAvailableNow:\n" + stray.mkString("\n"))
    // the checker follows a chain over lines, comments and arguments
    val caught = streamStarts("X.scala", "val q = df.writeStream\n" +
      "  .foreachBatch { (b: DataFrame, _: Long) => b.count() }\n" +
      "  // a comment\n  .option(\"k\", \"(\")\n  .start()\n")
    assert(caught == Seq("X.scala:5"), s"$caught")
    assert(streamStarts("Y.scala",
      "val w = df.writeStream.format(\"memory\")\nth.start()\n").isEmpty)
  }

  /** Every `read.parquet(` call in `text`, as "file:line" of its
    * `read`; the chain may span lines, and comment lines are skipped. */
  private[graft] def parquetReads(file: String, text: String): Seq[String] = {
    val src = text.replaceAll("(?m)^[ \\t]*(//|/?\\*).*$", "")
    """\bread\s*\.\s*parquet\s*\(""".r.findAllMatchIn(src).toSeq.map(m =>
      s"$file:${src.substring(0, m.start).count(_ == '\n') + 1}")
  }

  test("only T opens a parquet table in src/main") {
    // T.load and T.schema read the schema from the footer on the
    // driver; a `read.parquet(` anywhere else would run Spark's
    // inference job again.
    val owner = "src/main/scala/graft/Session.scala"
    assert(mainSources.exists(_.getPath == owner),
      "scan did not find T's source (wrong directory?)")
    val stray = mainSources.filterNot(_.getPath == owner)
      .flatMap(f => parquetReads(f.getPath, readFile(f)))
    assert(stray.isEmpty, "parquet tables opened outside T:\n" +
      stray.mkString("\n"))
    // the checker sees a call split over a line, and skips comments
    assert(parquetReads("X.scala", "val a = s.read\n  .parquet(p)\n" +
      "  // spark.read.parquet(p)\n  * spark.read.parquet(p)\n" +
      "s.readStream.schema(t).parquet(d)\n") == Seq("X.scala:1"))
  }

  /** Every `localCheckpoint(` call in `text` with no `pin: measured`
    * or `pin: correctness` tag on its line or the line above, as
    * "file:line"; comment lines are skipped. */
  private[graft] def untaggedPins(file: String, text: String): Seq[String] = {
    val lines = text.split("\n", -1).toSeq
    val comment = """^[ \t]*(//|/?\*)""".r
    val tag = """//.*\bpin: (measured|correctness)\b""".r
    def tagged(i: Int) = i >= 0 && tag.findFirstIn(lines(i)).isDefined
    lines.indices.filter { i =>
      lines(i).contains("localCheckpoint(") &&
        comment.findFirstIn(lines(i)).isEmpty && !tagged(i) && !tagged(i - 1)
    }.map(i => s"$file:${i + 1}")
  }

  test("every localCheckpoint in the query files states its reason") {
    // A pin truncates lineage and fixes a materialization point; in a
    // query file it stays only with a measured loss without it or a
    // correctness reason (a non-deterministic input read twice).
    val dir = "src/main/scala/graft/queries/"
    val qs = mainSources.filter(_.getPath.startsWith(dir))
    assert(qs.exists(f => readFile(f).contains("localCheckpoint(")),
      s"scan found no localCheckpoint under $dir (wrong directory?)")
    val stray = qs.flatMap(f => untaggedPins(f.getPath, readFile(f)))
    assert(stray.isEmpty, "localCheckpoint without a `pin: measured` " +
      "or `pin: correctness` tag:\n" + stray.mkString("\n"))
    // the checker takes the tag on the line or the line above, and
    // skips comments
    assert(untaggedPins("X.scala", "val a = b\n  .localCheckpoint()\n" +
      "// pin: measured 2.1 vs 3.0 s\nval c = d.localCheckpoint()\n" +
      "val e = f.localCheckpoint() // pin: correctness rand\n" +
      "  // g.localCheckpoint()\n  * h.localCheckpoint()\n" +
      "val i = j.localCheckpoint() // pinned: feeds two\n") ==
      Seq("X.scala:2", "X.scala:8"))
  }

  /** Every `case class` in `text` with no `kernel: measured` or
    * `kernel: no built-in form` tag on its line or in the comment
    * block right above it, as "file:line". */
  private[graft] def untaggedKernels(file: String,
                                     text: String): Seq[String] = {
    val lines = text.split("\n", -1).toSeq
    val comment = """^[ \t]*(//|/?\*)""".r
    val tag = """\bkernel: (measured|no built-in form)\b""".r
    def taggedAbove(i: Int): Boolean =
      i >= 0 && comment.findFirstIn(lines(i)).isDefined &&
        (tag.findFirstIn(lines(i)).isDefined || taggedAbove(i - 1))
    lines.indices.filter { i =>
      """^\s*case class\s""".r.findFirstIn(lines(i)).isDefined &&
        tag.findFirstIn(lines(i)).isEmpty && !taggedAbove(i - 1)
    }.map(i => s"$file:${i + 1}")
  }

  test("every plans/ kernel states why it beats its plain Spark form") {
    // A hand-written Catalyst expression stays only when a cold A/B
    // measured it faster than the built-in form, or when Spark has no
    // built-in form for it; the functions are plain Column code, not a
    // SQL registration layer.
    val dir = "src/main/scala/graft/plans/"
    val ks = mainSources.filter(_.getPath.startsWith(dir))
    assert(ks.exists(f => readFile(f).contains("case class")),
      s"scan found no case class under $dir (wrong directory?)")
    val stray = ks.flatMap(f => untaggedKernels(f.getPath, readFile(f)))
    assert(stray.isEmpty, "kernel without a `kernel: measured` or " +
      "`kernel: no built-in form` tag:\n" + stray.mkString("\n"))
    val registered = mainSources.flatMap { f =>
      readFile(f).split("\n").zipWithIndex.collect {
        case (l, i) if l.contains("injectFunction") ||
            l.contains("createOrReplaceTempFunction") =>
          s"${f.getPath}:${i + 1}"
      }
    }
    assert(registered.isEmpty, "SQL function registration in src/main:\n" +
      registered.mkString("\n"))
    // the checker takes the tag on the line or anywhere in the comment
    // block right above, and only there
    assert(untaggedKernels("X.scala",
      "/** Dot.\n  * kernel: measured — plain 3.1 vs 2.0 s, local[4] */\n" +
      "case class A(x: Int)\n\ncase class B(y: Int)\n" +
      "// kernel: no built-in form\ncase class C(z: Int)\n" +
      "// kernel: measured\nval v = 1\ncase class D(w: Int)\n") ==
      Seq("X.scala:5", "X.scala:10"))
  }

  test("suite discovery sees every spec source file") {
    // Every *Spec.scala in the test tree must contribute at least one
    // discovered class — a spec written with an unrecognized parent
    // would silently drop out of the count.
    val specFiles = testDir.listFiles().map(_.getName)
      .filter(n => n.endsWith("Spec.scala") && n != "SparkSpec.scala")
    val missing = specFiles.filterNot(f =>
      suiteNames.contains(f.stripSuffix(".scala")))
    assert(missing.isEmpty, s"spec files not discovered as suites " +
      s"(unrecognized extends clause?): ${missing.mkString(", ")}")
  }
}
