package graft

import java.nio.file.{Files, Path, Paths}

import org.scalacheck.{Gen, Prop, Properties, Test}

import org.apache.spark.sql.graft.PlanDsl

import graft.operators.Persisted

/** ScalaCheck properties over the persisted-artifact publish protocol
  * (VERDICT r19 #7): [[PersistedSpec]] pins named interleavings (the
  * TOCTOU, the nested reclaim rename, the mid-mark husk, the 8-builder
  * stress example); this spec pins the SPACE — random builder counts,
  * build delays, TTLs, pre-existing crash debris, and a live chaos
  * reclaimer/janitor running the protocol's own legitimate deletes at
  * random times. Whatever interleaving falls out, the invariants are:
  *
  *  1. every builder either returns THE one base path or fails with
  *     the loud IOException kind — never silently, never anything else;
  *  2. end state: a `_DONE` marker implies the data is present AND the
  *     marker's content names a `_BUILD-` token that exists in base
  *     (ownership consistency — no husk, no cross-marked artifact);
  *  3. at most one artifact dir exists for the (label, sig) and no
  *     unexpected siblings survive beyond unreaped stagings;
  *  4. once contention ends, one uncontended call converges to a
  *     valid, attachable artifact.
  *
  * The chaos actor only performs deletes the protocol itself allows —
  * reclaiming an UNMARKED base past the TTL and reaping `-stage-` dirs
  * past the TTL. Marker or data loss outside the protocol (a human rm)
  * is out of the threat model, same as for the example specs.
  */
object PersistedPropertySpec extends Properties("graft.persisted") {

  // each trial runs a real multi-threaded race with sleeps — keep the
  // trial count modest (the space is sampled, not exhausted)
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  private lazy val spark = GraftSession.local(4)

  private def write(p: String, bytes: Int): Unit = {
    val path = Paths.get(p.stripPrefix("file:"))
    Files.createDirectories(path.getParent)
    Files.write(path, Array.fill[Byte](bytes)(7))
  }

  private def rm(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).forEach(c => rm(c))
    Files.deleteIfExists(p)
  }

  private case class Trial(
      nBuilders: Int,
      delays: List[Int], // per-builder build sleep, ms
      staleMs: Int,
      preHusk: Boolean, // TTL-expired crashed base pre-exists
      preStaging: Boolean, // orphaned staging pre-exists
      chaos: Boolean, // run the concurrent reclaimer/janitor
      chaosPeriodMs: Int,
      seed: Long)

  private val trialGen: Gen[Trial] = for {
    n <- Gen.choose(2, 5)
    delays <- Gen.listOfN(n, Gen.choose(0, 60))
    staleMs <- Gen.choose(20, 90)
    preHusk <- Gen.oneOf(true, false)
    preStaging <- Gen.oneOf(true, false)
    chaos <- Gen.frequency(3 -> true, 1 -> false)
    period <- Gen.choose(5, 25)
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield Trial(n, delays, staleMs, preHusk, preStaging, chaos, period, seed)

  property("racing builders + TTL reclaim/janitor: loud failures, one artifact, no husk, convergence") =
    Prop.forAll(trialGen) { t =>
      val artRoot = PlanDsl.tempDir("graft-pprop").toString
      spark.conf.set("spark.graft.persisted.root", s"file:$artRoot")
      spark.conf.set("spark.graft.persisted.staleMs", t.staleMs.toString)
      spark.conf.set("spark.graft.persisted.publishWaitMs", "2500")
      val label = "prop-art"
      val base = Paths.get(s"$artRoot/$label-s1")
      try {
        if (t.preHusk) {
          write(s"$base/crash.bin", 4)
          Thread.sleep(t.staleMs + 20L) // strictly past the TTL
        }
        if (t.preStaging) {
          val orphan = Paths.get(s"$artRoot/$label-s1-stage-orphan")
          write(s"$orphan/part.bin", 4)
          Files.setLastModifiedTime(orphan,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis() - t.staleMs - 1000L))
        }
        val successes =
          new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val failures =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val start = new java.util.concurrent.CountDownLatch(1)
        val done = new java.util.concurrent.atomic.AtomicBoolean(false)
        val builders = t.delays.zipWithIndex.map { case (d, i) =>
          new Thread(() => {
            start.await()
            try successes.add(Persisted.ensure(spark, label, "s1") {
              staging =>
                Thread.sleep(d.toLong)
                write(s"$staging/data.bin", 8)
            }) catch { case e: Throwable => failures.add(e) }
          }, s"prop-builder-$i")
        }
        // the chaos actor: ONLY protocol-legal deletes, at random ticks
        // (a concurrent process running the same reclaim/janitor code)
        val rnd = new scala.util.Random(t.seed)
        val chaosThread = new Thread(() => {
          start.await()
          while (!done.get()) {
            try {
              if (rnd.nextBoolean() && Files.exists(base) &&
                  !Files.exists(base.resolve("_DONE")) &&
                  Files.getLastModifiedTime(base).toMillis <
                    System.currentTimeMillis() - t.staleMs) {
                rm(base)
              }
              if (rnd.nextBoolean()) {
                Files.list(Paths.get(artRoot)).forEach { p =>
                  if (p.getFileName.toString.contains("-stage-") &&
                      Files.getLastModifiedTime(p).toMillis <
                        System.currentTimeMillis() - t.staleMs)
                    rm(p)
                }
              }
            } catch { case _: java.io.IOException => () } // racing deletes
            Thread.sleep(t.chaosPeriodMs.toLong)
          }
        }, "prop-chaos")
        builders.foreach(_.start())
        if (t.chaos) chaosThread.start()
        start.countDown()
        builders.foreach(_.join(30000))
        done.set(true)
        if (t.chaos) chaosThread.join(5000)

        val allTerminated = builders.forall(!_.isAlive)
        // 1. loud failures only
        val loudOnly = failures.toArray(Array.empty[Throwable])
          .forall(_.isInstanceOf[java.io.IOException])
        // every success names the one base
        val oneBase = successes.toArray(Array.empty[String])
          .forall(_ == s"file:$base")
        // 2. no husk / no foreign marker in the end state
        val markerOk =
          if (!Files.exists(base.resolve("_DONE"))) true
          else {
            val content = new String(
              Files.readAllBytes(base.resolve("_DONE")),
              java.nio.charset.StandardCharsets.UTF_8)
            Files.exists(base.resolve("data.bin")) &&
              content.startsWith("_BUILD-") &&
              Files.exists(base.resolve(content))
          }
        // 3. no unexpected siblings: only the base and (possibly)
        // unreaped stagings may exist under the root
        val siblingsOk = Files.list(Paths.get(artRoot)).toArray
          .map(_.toString.split('/').last)
          .forall(n => n == s"$label-s1" || n.contains("-stage-"))
        // 4. convergence once contention ends (any unmarked leftover
        // must age past the TTL first)
        Thread.sleep(t.staleMs + 30L)
        val fin = Persisted.ensure(spark, label, "s1") { staging =>
          write(s"$staging/data.bin", 8)
        }
        val fp = Paths.get(fin.stripPrefix("file:"))
        val converged = Files.exists(fp.resolve("_DONE")) &&
          Files.exists(fp.resolve("data.bin"))

        val ok = allTerminated && loudOnly && oneBase && markerOk &&
          siblingsOk && converged
        if (!ok) {
          // scalacheck shrinks poorly on threads — print the verdict
          println(s"FAIL trial=$t terminated=$allTerminated loud=$loudOnly" +
            s" oneBase=$oneBase marker=$markerOk siblings=$siblingsOk" +
            s" converged=$converged failures=" +
            failures.toArray(Array.empty[Throwable]).mkString("; "))
        }
        ok
      } finally {
        spark.conf.unset("spark.graft.persisted.root")
        spark.conf.unset("spark.graft.persisted.staleMs")
        spark.conf.unset("spark.graft.persisted.publishWaitMs")
      }
    }
}
