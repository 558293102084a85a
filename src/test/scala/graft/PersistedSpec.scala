package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.graft.PlanDsl

import graft.operators.Persisted

/** Lifecycle contract of the persisted-artifact helper: recursive
  * partition-aware signatures (a regenerated file ANYWHERE under a
  * table dir invalidates), build-once/attach-everywhere through the
  * Hadoop FS API, and a configurable artifact root.
  */
class PersistedSpec extends SparkSpec {

  private def write(p: String, bytes: Int): Unit = {
    // staging/base paths come back scheme-qualified from the Hadoop FS
    // helper; java.nio would treat "file:" as a relative component
    val path = Paths.get(p.stripPrefix("file:"))
    Files.createDirectories(path.getParent)
    Files.write(path, Array.fill[Byte](bytes)(7))
  }

  test("signature walks partitioned directories recursively") {
    val dir = PlanDsl.tempDir("graft-psig").toString
    write(s"$dir/day=2024-01-01/part-0.parquet", 10)
    write(s"$dir/day=2024-01-02/part-0.parquet", 10)
    val s1 = Persisted.signature(spark, Seq("x"), Seq(dir))
    assert(s1 == Persisted.signature(spark, Seq("x"), Seq(dir)),
      "signature must be deterministic")
    // regenerate ONE nested leaf (different size): the key must move —
    // a top-level-only listing would see zero files and stay constant
    write(s"$dir/day=2024-01-02/part-0.parquet", 11)
    val s2 = Persisted.signature(spark, Seq("x"), Seq(dir))
    assert(s1 != s2, "a nested file change must invalidate the signature")
    // a NEW partition directory must also move the key
    write(s"$dir/day=2024-01-03/part-0.parquet", 10)
    assert(Persisted.signature(spark, Seq("x"), Seq(dir)) != s2)
  }

  test("signature separates identity parts unambiguously") {
    assert(Persisted.signature(spark, Seq("a|b")) !=
      Persisted.signature(spark, Seq("a", "b")))
  }

  test("ensure builds once and re-attaches under a configured root") {
    val artRoot = PlanDsl.tempDir("graft-proot").toString
    spark.conf.set("spark.graft.persisted.root", s"file:$artRoot")
    try {
      var builds = 0
      def run(): String = Persisted.ensure(spark, "spec-artifact", "s1") {
        staging =>
          builds += 1
          // a Spark write against the staging path exercises the same
          // Hadoop-FS path discipline production builds use
          spark.range(3).write.parquet(s"$staging/data")
      }
      val first = run()
      assert(builds == 1)
      assert(first.contains(artRoot), s"artifact must land under the " +
        s"configured root, got $first")
      assert(spark.read.parquet(s"$first/data").count() == 3)
      val second = run()
      assert(builds == 1, "a complete artifact must re-attach, not rebuild")
      assert(second == first)
    } finally spark.conf.unset("spark.graft.persisted.root")
  }

  /** Names of the dirs directly under `artRoot`, dot dirs included. */
  private def dirs(artRoot: String): Seq[String] = {
    val it = Files.list(Paths.get(artRoot))
    try it.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).sorted
    finally it.close()
  }

  private def marked(dir: String): Boolean =
    Files.exists(Paths.get(dir.stripPrefix("file:"), "_DONE"))

  /** Run `f` with the persisted root at a fresh dir and `confs` set. */
  private def withRoot(name: String, confs: (String, String)*)(
      f: String => Unit): Unit = {
    val artRoot = PlanDsl.tempDir(name).toString
    val all = ("spark.graft.persisted.root" -> s"file:$artRoot") +: confs
    all.foreach { case (k, v) => spark.conf.set(k, v) }
    try f(artRoot) finally all.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("a partial artifact (no _DONE) is never attachable") {
    withRoot("graft-proot2") { artRoot =>
      // a crashed build's dir, younger than the stale TTL: it may
      // belong to a live concurrent builder, so it is neither attached
      // nor reaped
      write(s"$artRoot/spec-partial-s1-crashed/data.bin", 4)
      var builds = 0
      val dir = Persisted.ensure(spark, "spec-partial", "s1") { d =>
        builds += 1
        write(s"$d/data.bin", 8)
      }
      assert(builds == 1)
      assert(!dir.endsWith("-crashed") && marked(dir))
      assert(Files.size(Paths.get(dir.stripPrefix("file:"), "data.bin")) == 8)
      assert(dirs(artRoot).contains("spec-partial-s1-crashed"))
    }
  }

  test("a crashed publish (stale base, no _DONE) is reclaimed past TTL") {
    withRoot("graft-proot4", "spark.graft.persisted.staleMs" -> "0") { artRoot =>
      write(s"$artRoot/spec-reclaim-s1-crashed/data.bin", 4)
      Thread.sleep(20) // mtime strictly older than the 0-TTL cutoff
      var builds = 0
      val dir = Persisted.ensure(spark, "spec-reclaim", "s1") { d =>
        builds += 1
        write(s"$d/data.bin", 8)
      }
      assert(builds == 1)
      assert(marked(dir))
      assert(Files.size(Paths.get(dir.stripPrefix("file:"), "data.bin")) == 8,
        "the published dir must carry the fresh build, not the crash debris")
      assert(dirs(artRoot) == Seq(dir.split('/').last),
        s"the crashed dir must be reaped: ${dirs(artRoot)}")
    }
  }

  test("a concurrent race publishes once; the loser attaches the winner's build") {
    withRoot("graft-proot6") { artRoot =>
      // four builders run concurrently; the first finishes well before
      // the others, marks its dir, and each later one finds that marked
      // sibling, discards its own unmarked dir and returns the sibling
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = (0 until 4).map { i =>
        new Thread(() => {
          start.await()
          try results.add(Persisted.ensure(spark, "spec-race", "s1") { d =>
            builds.incrementAndGet()
            Thread.sleep(50L + i * 150L)
            write(s"$d/data.bin", 8)
          }) catch { case t: Throwable => errors.add(t) }
        }, s"race-$i")
      }
      threads.foreach(_.start()); start.countDown()
      threads.foreach(_.join(30000))
      assert(errors.isEmpty, s"no racer may fail: ${errors.peek()}")
      assert(builds.get == 4, "all four must have started a build")
      val got = results.toArray(Array.empty[String]).toSet
      assert(got.size == 1, s"all racers must attach one artifact: $got")
      assert(marked(got.head))
      assert(dirs(artRoot) == Seq(got.head.split('/').last),
        s"the losers' dirs must be discarded: ${dirs(artRoot)}")
    }
  }

  test("racing builders: a later call builds nothing and attaches the smallest complete dir") {
    withRoot("graft-prace") { artRoot =>
      val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 4).map { i =>
        new Thread(() => {
          start.await()
          results.add(Persisted.ensure(spark, "spec-race2", "s1") { d =>
            Thread.sleep(50)
            write(s"$d/data.bin", 8)
          })
        }, s"race2-$i")
      }
      threads.foreach(_.start()); start.countDown()
      threads.foreach(_.join(30000))
      assert(results.size == 4)
      results.forEach(d => assert(marked(d), s"every racer returns a marked dir: $d"))
      val complete = dirs(artRoot).filter(n => marked(s"$artRoot/$n"))
      assert(dirs(artRoot) == complete, "no unmarked dir may be left behind")
      var builds = 0
      val fin = Persisted.ensure(spark, "spec-race2", "s1") { _ => builds += 1 }
      assert(builds == 0)
      assert(fin.split('/').last == complete.min)
    }
  }

  test("a build that fails throws an IOException naming its dir and publishes nothing") {
    withRoot("graft-pfail") { artRoot =>
      var seen = ""
      val e = intercept[java.io.IOException] {
        Persisted.ensure(spark, "spec-fail", "s1") { d =>
          seen = d
          write(s"$d/data.bin", 8)
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage.contains(seen), e.getMessage)
      assert(e.getCause.getMessage == "boom")
      assert(dirs(artRoot).forall(n => !marked(s"$artRoot/$n")))
    }
  }

  test("a build reaped by the janitor mid-build fails loud and leaves no _DONE") {
    withRoot("graft-preap") { artRoot =>
      // the fault comes from inside the build: a janitor at TTL 0 over
      // the build's own, still unmarked dir (a build overrunning the
      // stale TTL while another process sweeps)
      val e = intercept[java.io.IOException] {
        Persisted.ensure(spark, "spec-reap", "s1") { d =>
          write(s"$d/data.bin", 8)
          Thread.sleep(5)
          Persisted.janitor(spark, "spec-reap", 0L)
          assert(!Files.exists(Paths.get(d.stripPrefix("file:"))),
            "the janitor must take the unmarked dir")
        }
      }
      assert(e.getMessage.contains("reaped"), e.getMessage)
      assert(dirs(artRoot).isEmpty, s"nothing may be left: ${dirs(artRoot)}")
    }
  }

  test("a build that finds a marked sibling at mark time discards its own dir") {
    withRoot("graft-psib") { artRoot =>
      var inner = ""
      val dir = Persisted.ensure(spark, "spec-sib", "s1") { d =>
        write(s"$d/data.bin", 8)
        // a concurrent builder publishes first
        inner = Persisted.ensure(spark, "spec-sib", "s1") { d2 =>
          write(s"$d2/data.bin", 9)
        }
      }
      assert(dir == inner && marked(dir))
      assert(dirs(artRoot) == Seq(dir.split('/').last))
    }
  }

  test("a marked dir survives the janitor at TTL 0") {
    withRoot("graft-pkeep") { artRoot =>
      val dir = Persisted.ensure(spark, "spec-keep", "s1") { d =>
        write(s"$d/data.bin", 8)
      }
      Thread.sleep(5)
      Persisted.janitor(spark, "spec-keep", 0L)
      assert(marked(dir) &&
        Files.exists(Paths.get(dir.stripPrefix("file:"), "data.bin")))
      assert(dirs(artRoot) == Seq(dir.split('/').last))
    }
  }

  test("stress: builders racing a TTL reclaim converge to one valid artifact") {
    // 8 builders over a TTL-expired crashed dir, with staleMs shorter
    // than most builds, so each builder's janitor reaps the dirs of
    // slower ones mid-build. Every failure is the loud IOException
    // kind, every success holds _DONE and its data, no dir anywhere
    // holds _DONE without data, and once contention ends every call
    // attaches the same valid artifact.
    withRoot("graft-proot10", "spark.graft.persisted.staleMs" -> "40") { artRoot =>
      write(s"$artRoot/spec-stress-s1-crashed/crash.bin", 4)
      Thread.sleep(60)
      val successes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 8).map { i =>
        new Thread(() => {
          start.await()
          try successes.add(Persisted.ensure(spark, "spec-stress", "s1") { d =>
            write(s"$d/part1.bin", 8)
            Thread.sleep(30 + i * 7) // outlive the TTL, stagger racers
            write(s"$d/data.bin", 8)
          }) catch { case t: Throwable => errors.add(t) }
        }, s"stress-$i")
      }
      threads.foreach(_.start()); start.countDown()
      threads.foreach(_.join(30000))
      assert(threads.forall(!_.isAlive), "stress threads must terminate")
      errors.forEach { t =>
        assert(t.isInstanceOf[java.io.IOException],
          s"every racer failure must be the loud kind, got: $t")
      }
      // both parts: a dir reaped mid-build and re-created by the
      // second write lacks part 1
      def hasData(d: String) = Seq("part1.bin", "data.bin")
        .forall(n => Files.exists(Paths.get(d.stripPrefix("file:"), n)))
      successes.forEach(d => assert(marked(d) && hasData(d), s"success $d"))
      dirs(artRoot).foreach { n =>
        assert(!marked(s"$artRoot/$n") || hasData(s"$artRoot/$n"),
          s"_DONE without data in $n")
      }
      val fin = Persisted.ensure(spark, "spec-stress", "s1") { d =>
        write(s"$d/part1.bin", 8); write(s"$d/data.bin", 8)
      }
      assert(marked(fin) && hasData(fin), s"final state must be valid: $fin")
      assert(Persisted.ensure(spark, "spec-stress", "s1")(_ => ()) == fin)
    }
  }

  test("janitor sweeps stale orphaned stagings, keeps live ones") {
    withRoot("graft-proot5", "spark.graft.persisted.staleMs" -> "60000") { artRoot =>
      // a crashed builder's orphan: older than the TTL
      val stale = Paths.get(s"$artRoot/spec-jan-s0-dead")
      write(s"$stale/part.bin", 4)
      Files.setLastModifiedTime(stale,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 120000))
      // a live concurrent build of the same label: younger than TTL
      val live = Paths.get(s"$artRoot/spec-jan-s0-live")
      write(s"$live/part.bin", 4)
      Persisted.ensure(spark, "spec-jan", "s1") { d =>
        write(s"$d/data.bin", 8)
      }
      assert(!Files.exists(stale), "stale orphan must be vacuumed")
      assert(Files.exists(live), "a live concurrent build dir must survive")
      assert(dirs(artRoot).forall(!_.startsWith(".")), "no reap dir may be left")
    }
  }
}
