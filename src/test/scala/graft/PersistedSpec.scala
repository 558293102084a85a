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

  test("a partial artifact (no _DONE) is never attachable") {
    val artRoot = PlanDsl.tempDir("graft-proot2").toString
    spark.conf.set("spark.graft.persisted.root", s"file:$artRoot")
    spark.conf.set("spark.graft.persisted.publishWaitMs", "200")
    try {
      // simulate a crashed build: base exists, no _DONE — and is
      // YOUNGER than the stale TTL, so it may belong to a live
      // concurrent publisher and must not be reclaimed
      write(s"$artRoot/spec-partial-s1/data.bin", 4)
      var builds = 0
      val e = intercept[java.io.IOException] {
        // the fresh build completes but cannot publish over the
        // unfinished dir — fail loud, never silently attach or destroy
        Persisted.ensure(spark, "spec-partial", "s1") { staging =>
          builds += 1
          write(s"$staging/data.bin", 8)
        }
      }
      assert(builds == 1)
      // the completed staging is preserved and NAMED for the operator
      assert(e.getMessage.contains("-stage-"),
        s"exception must name the preserved staging: ${e.getMessage}")
    } finally {
      spark.conf.unset("spark.graft.persisted.root")
      spark.conf.unset("spark.graft.persisted.publishWaitMs")
    }
  }

  test("_DONE is created in base only after the publish rename") {
    // s3a contract: rename is copy+delete, so a _DONE renamed along
    // with the data can appear before the data finishes copying. The
    // marker must therefore never exist inside the staging dir the
    // build sees — it is created in base, post-rename.
    val artRoot = PlanDsl.tempDir("graft-proot3").toString
    spark.conf.set("spark.graft.persisted.root", s"file:$artRoot")
    try {
      var stagingSeen: String = null
      val dir = Persisted.ensure(spark, "spec-marker", "s1") { staging =>
        stagingSeen = staging
        write(s"$staging/data.bin", 8)
      }
      assert(!Files.exists(
        Paths.get(stagingSeen.stripPrefix("file:"), "_DONE")),
        "_DONE must not be written into staging pre-rename")
      assert(Files.exists(Paths.get(dir.stripPrefix("file:"), "_DONE")))
    } finally spark.conf.unset("spark.graft.persisted.root")
  }

  test("a crashed publish (stale base, no _DONE) is reclaimed past TTL") {
    val artRoot = PlanDsl.tempDir("graft-proot4").toString
    spark.conf.set("spark.graft.persisted.root", s"file:$artRoot")
    spark.conf.set("spark.graft.persisted.staleMs", "0")
    try {
      write(s"$artRoot/spec-reclaim-s1/data.bin", 4)
      Thread.sleep(20) // base mtime strictly older than the 0-TTL cutoff
      var builds = 0
      val dir = Persisted.ensure(spark, "spec-reclaim", "s1") { staging =>
        builds += 1
        write(s"$staging/data.bin", 8)
      }
      assert(builds == 1)
      assert(Files.exists(Paths.get(dir.stripPrefix("file:"), "_DONE")))
      assert(Files.size(
        Paths.get(dir.stripPrefix("file:"), "data.bin")) == 8,
        "the reclaimed base must carry the fresh build, not the crash debris")
    } finally {
      spark.conf.unset("spark.graft.persisted.root")
      spark.conf.unset("spark.graft.persisted.staleMs")
    }
  }

  test("a concurrent race publishes once; the loser attaches the winner's build") {
    val artRoot = PlanDsl.tempDir("graft-proot6").toString
    spark.conf.set("spark.graft.persisted.root", s"file:$artRoot")
    try {
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 4).map { i =>
        new Thread(() => {
          start.await()
          try results.add(Persisted.ensure(spark, "spec-race", "s1") {
            staging =>
              builds.incrementAndGet()
              Thread.sleep(50) // widen the race window
              write(s"$staging/data.bin", 8)
          }) catch { case t: Throwable => errors.add(t) }
        }, s"race-$i")
      }
      threads.foreach(_.start()); start.countDown()
      threads.foreach(_.join(30000))
      assert(errors.isEmpty, s"no racer may fail: ${errors.peek()}")
      assert(results.size == 4)
      val dirs = results.toArray(Array.empty[String]).toSet
      assert(dirs.size == 1, s"all racers must attach one artifact: $dirs")
      assert(Files.exists(
        Paths.get(dirs.head.stripPrefix("file:"), "_DONE")))
      // losers' stagings are cleaned up after the winner's marker lands
      val leftover = Files.list(Paths.get(artRoot)).toArray.map(_.toString)
        .filter(_.contains("-stage-"))
      assert(leftover.isEmpty, s"no staging may leak: ${leftover.toSeq}")
    } finally spark.conf.unset("spark.graft.persisted.root")
  }

  test("a base reclaimed between rename and mark fails loud, never a _DONE-only husk") {
    // the r16 TOCTOU: two builders pass the staleness check; B deletes
    // base AFTER A's publish rename but BEFORE A's _DONE. A blind
    // f.create(done) would re-create base as a directory holding only
    // _DONE — a corrupt artifact every reader attaches. The token
    // check must fail loud instead.
    val artRoot = PlanDsl.tempDir("graft-proot7").toString
    spark.conf.set("spark.graft.persisted.root", s"file:$artRoot")
    spark.conf.set("spark.graft.persisted.publishWaitMs", "200")
    val base = Paths.get(s"$artRoot/spec-toctou-s1")
    Persisted.testBetweenRenameAndMark = () => {
      // simulate the concurrent reclaimer's delete landing post-rename
      def rm(p: java.nio.file.Path): Unit = {
        if (Files.isDirectory(p))
          Files.list(p).forEach(c => rm(c))
        Files.deleteIfExists(p)
      }
      rm(base)
    }
    try {
      val e = intercept[java.io.IOException] {
        Persisted.ensure(spark, "spec-toctou", "s1") { staging =>
          write(s"$staging/data.bin", 8)
        }
      }
      assert(e.getMessage.contains("reclaimed out from under"),
        s"must name the reclaim race: ${e.getMessage}")
      assert(!Files.exists(base.resolve("_DONE")),
        "no _DONE may be written over a base this build no longer owns")
    } finally {
      Persisted.testBetweenRenameAndMark = () => ()
      spark.conf.unset("spark.graft.persisted.root")
      spark.conf.unset("spark.graft.persisted.publishWaitMs")
    }
  }

  test("a reclaim rename that nests (base re-created by a racer) is detected, not marked") {
    // second half of the r16 TOCTOU: our reclaim deleted the stale
    // base, a racing builder re-created it before our rename, so the
    // rename NESTED our staging inside base. The r16 reclaim branch
    // renamed blind and would have claimed the win; the detection must
    // refuse, and the loud timeout error must name the NESTED path
    // (the old message claimed the original staging path, which no
    // longer exists).
    val artRoot = PlanDsl.tempDir("graft-proot8").toString
    spark.conf.set("spark.graft.persisted.root", s"file:$artRoot")
    spark.conf.set("spark.graft.persisted.staleMs", "0")
    spark.conf.set("spark.graft.persisted.publishWaitMs", "200")
    val base = Paths.get(s"$artRoot/spec-nest-s1")
    try {
      write(s"$artRoot/spec-nest-s1/crash.bin", 4) // stale crashed base
      Thread.sleep(20)
      Persisted.testAfterReclaimDelete = () =>
        // the racer's own rename lands first: base exists again, with
        // the racer's (unmarked) build inside
        write(s"$base/racer.bin", 8)
      val e = intercept[java.io.IOException] {
        Persisted.ensure(spark, "spec-nest", "s1") { staging =>
          write(s"$staging/data.bin", 8)
        }
      }
      assert(e.getMessage.contains("nested into base"),
        s"must report the actual preserved (nested) path: ${e.getMessage}")
      assert(!Files.exists(base.resolve("_DONE")),
        "a nested-rename loser must never mark the racer's base done")
    } finally {
      Persisted.testAfterReclaimDelete = () => ()
      spark.conf.unset("spark.graft.persisted.root")
      spark.conf.unset("spark.graft.persisted.staleMs")
      spark.conf.unset("spark.graft.persisted.publishWaitMs")
    }
  }

  test("a reclaim landing mid-mark is detected post-write; the marker is retracted") {
    // the residual window the r17 token guard left open: the reclaimer
    // deletes base AFTER our exists(token) check but BEFORE our
    // create(done) — the create then re-creates base as a _DONE-only
    // husk. The post-write verification must re-check the token,
    // retract the marker and fail loud; no husk may stay attachable.
    val artRoot = PlanDsl.tempDir("graft-proot9").toString
    spark.conf.set("spark.graft.persisted.root", s"file:$artRoot")
    spark.conf.set("spark.graft.persisted.publishWaitMs", "200")
    val base = Paths.get(s"$artRoot/spec-midmark-s1")
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).forEach(c => rm(c))
      Files.deleteIfExists(p)
    }
    Persisted.testBetweenTokenCheckAndMark = () => rm(base)
    try {
      val e = intercept[java.io.IOException] {
        Persisted.ensure(spark, "spec-midmark", "s1") { staging =>
          write(s"$staging/data.bin", 8)
        }
      }
      assert(e.getMessage.contains("retracted"),
        s"must report the retracted marker: ${e.getMessage}")
      assert(!Files.exists(base.resolve("_DONE")),
        "the husk's _DONE must be retracted, never left attachable")
    } finally {
      Persisted.testBetweenTokenCheckAndMark = () => ()
      spark.conf.unset("spark.graft.persisted.root")
      spark.conf.unset("spark.graft.persisted.publishWaitMs")
    }
  }

  test("a successor's valid _DONE survives a loser's mid-mark failure") {
    // the retraction path must only ever touch a marker THIS build
    // wrote: if a reclaimer takes base mid-publish and a successor
    // re-publishes (data + its own token + its own marker) before our
    // marker write runs, the EXCLUSIVE create must fail loud and the
    // successor's marker must survive — overwrite-then-retract would
    // destroy a legitimate artifact whose builder already returned
    val artRoot = PlanDsl.tempDir("graft-proot11").toString
    spark.conf.set("spark.graft.persisted.root", s"file:$artRoot")
    spark.conf.set("spark.graft.persisted.publishWaitMs", "200")
    val base = Paths.get(s"$artRoot/spec-super-s1")
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).forEach(c => rm(c))
      Files.deleteIfExists(p)
    }
    Persisted.testBetweenTokenCheckAndMark = () => {
      rm(base) // the reclaim takes our base...
      Files.createDirectories(base) // ...and a successor re-publishes
      Files.write(base.resolve("data.bin"), Array.fill[Byte](8)(9))
      Files.write(base.resolve("_BUILD-other"), Array.emptyByteArray)
      Files.write(base.resolve("_DONE"),
        "_BUILD-other".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    try {
      val e = intercept[java.io.IOException] {
        Persisted.ensure(spark, "spec-super", "s1") { staging =>
          write(s"$staging/data.bin", 8)
        }
      }
      assert(e.getMessage.contains("concurrent"), e.getMessage)
      assert(Files.exists(base.resolve("_DONE")),
        "the successor's marker must survive the loser's failure")
      assert(new String(Files.readAllBytes(base.resolve("_DONE")),
        java.nio.charset.StandardCharsets.UTF_8) == "_BUILD-other",
        "the successor's marker content must be untouched")
      assert(Files.exists(base.resolve("data.bin")),
        "the successor's data must be untouched")
    } finally {
      Persisted.testBetweenTokenCheckAndMark = () => ()
      spark.conf.unset("spark.graft.persisted.root")
      spark.conf.unset("spark.graft.persisted.publishWaitMs")
    }
  }

  test("stress: builders racing a TTL reclaim converge to one valid artifact") {
    // N builders over a TTL-expired crashed base, with the janitor and
    // the reclaim path live (staleMs shorter than a build, so racers
    // genuinely reclaim each other mid-publish). Invariants: every
    // failure is the loud IOException kind; every success hands back
    // the one base path; the end state never shows _DONE without data
    // (the husk); and an uncontended call afterwards converges to a
    // valid marked artifact.
    val artRoot = PlanDsl.tempDir("graft-proot10").toString
    spark.conf.set("spark.graft.persisted.root", s"file:$artRoot")
    spark.conf.set("spark.graft.persisted.staleMs", "40")
    spark.conf.set("spark.graft.persisted.publishWaitMs", "2000")
    val base = Paths.get(s"$artRoot/spec-stress-s1")
    try {
      write(s"$artRoot/spec-stress-s1/crash.bin", 4) // TTL-expired husk
      Thread.sleep(60)
      val successes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 8).map { i =>
        new Thread(() => {
          start.await()
          try successes.add(Persisted.ensure(spark, "spec-stress", "s1") {
            staging =>
              Thread.sleep(30 + i * 7) // outlive the TTL, stagger racers
              write(s"$staging/data.bin", 8)
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
      successes.forEach { d =>
        assert(d == s"file:$base", s"success must name the one base: $d")
      }
      // end-state husk check: _DONE implies data
      if (Files.exists(base.resolve("_DONE")))
        assert(Files.exists(base.resolve("data.bin")),
          "_DONE without data files — a corrupt husk survived the race")
      // convergence: once contention ends (and any unmarked leftover
      // ages past the TTL), one more call attaches or rebuilds valid
      Thread.sleep(60)
      val fin = Persisted.ensure(spark, "spec-stress", "s1") { staging =>
        write(s"$staging/data.bin", 8)
      }
      val fp = Paths.get(fin.stripPrefix("file:"))
      assert(Files.exists(fp.resolve("_DONE")) &&
        Files.exists(fp.resolve("data.bin")),
        s"final state must be a marked, data-carrying artifact: $fin")
    } finally {
      spark.conf.unset("spark.graft.persisted.root")
      spark.conf.unset("spark.graft.persisted.staleMs")
      spark.conf.unset("spark.graft.persisted.publishWaitMs")
    }
  }

  test("janitor sweeps stale orphaned stagings, keeps live ones") {
    val artRoot = PlanDsl.tempDir("graft-proot5").toString
    spark.conf.set("spark.graft.persisted.root", s"file:$artRoot")
    spark.conf.set("spark.graft.persisted.staleMs", "60000")
    try {
      // a crashed builder's orphan: older than the TTL
      val stale = Paths.get(s"$artRoot/spec-jan-zz-stage-dead")
      write(s"$stale/part.bin", 4)
      Files.setLastModifiedTime(stale,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 120000))
      // a live concurrent build of the same label: younger than TTL
      val live = Paths.get(s"$artRoot/spec-jan-yy-stage-live")
      write(s"$live/part.bin", 4)
      Persisted.ensure(spark, "spec-jan", "s1") { staging =>
        write(s"$staging/data.bin", 8)
      }
      assert(!Files.exists(stale), "stale orphan must be vacuumed")
      assert(Files.exists(live), "a live concurrent staging must survive")
    } finally {
      spark.conf.unset("spark.graft.persisted.root")
      spark.conf.unset("spark.graft.persisted.staleMs")
    }
  }
}
