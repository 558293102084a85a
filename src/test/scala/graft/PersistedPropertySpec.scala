package graft

import java.nio.file.{Files, Path, Paths}

import org.scalacheck.{Gen, Prop, Properties, Test}

import org.apache.spark.sql.graft.PlanDsl

import graft.operators.Persisted

/** ScalaCheck properties over the persisted-artifact publish protocol
  * (VERDICT r19 #7): [[PersistedSpec]] pins named interleavings; this
  * spec pins the SPACE — random builder counts, build delays, TTLs,
  * pre-existing crash debris, and a chaos actor running the
  * production janitor ([[Persisted.janitor]]) at random times.
  * Whatever interleaving falls out, the invariants are:
  *
  *  1. every builder either returns a dir or fails with the loud
  *     IOException kind — never silently, never anything else;
  *  2. every dir a builder returned holds `_DONE` plus its data;
  *  3. no dir anywhere under the root holds `_DONE` without its data;
  *  4. once contention ends, the calls made after it all return the
  *     same dir, and it holds `_DONE` plus its data.
  *
  * Marker or data loss outside the protocol (a human rm) is out of the
  * threat model, same as for the example specs.
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

  private case class Trial(
      nBuilders: Int,
      delays: List[Int], // per-builder build sleep, ms
      staleMs: Int,
      preHusk: Boolean, // TTL-expired crashed build dir pre-exists
      preStaging: Boolean, // orphaned build dir pre-exists
      chaos: Boolean, // run a concurrent janitor
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
      val label = "prop-art"
      def hasData(d: Path) =
        Files.exists(d.resolve("part1.bin")) && Files.exists(d.resolve("data.bin"))
      def marked(d: Path) = Files.exists(d.resolve("_DONE"))
      try {
        if (t.preHusk) {
          write(s"$artRoot/$label-s1-crashed/crash.bin", 4)
          Thread.sleep(t.staleMs + 20L) // strictly past the TTL
        }
        if (t.preStaging) {
          val orphan = Paths.get(s"$artRoot/$label-s1-orphan")
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
            try successes.add(Persisted.ensure(spark, label, "s1") { dir =>
              // data in two parts around the build's delay: a dir reaped
              // mid-build and re-created by the second write lacks part 1
              write(s"$dir/part1.bin", 8)
              Thread.sleep(d.toLong)
              write(s"$dir/data.bin", 8)
            }) catch { case e: Throwable => failures.add(e) }
          }, s"prop-builder-$i")
        }
        // the chaos actor: a concurrent process's janitor, at random ticks
        val rnd = new scala.util.Random(t.seed)
        val chaosThread = new Thread(() => {
          start.await()
          while (!done.get()) {
            if (rnd.nextBoolean()) Persisted.janitor(spark, label, t.staleMs.toLong)
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
        // 2. every success holds _DONE plus its data
        val successOk = successes.toArray(Array.empty[String])
          .map(d => Paths.get(d.stripPrefix("file:")))
          .forall(d => marked(d) && hasData(d))
        // 3. no husk anywhere under the root, reap dirs included
        val noHusk = {
          val it = Files.list(Paths.get(artRoot))
          try it.toArray.map(_.asInstanceOf[Path])
            .forall(d => !marked(d) || hasData(d))
          finally it.close()
        }
        // 4. the calls made after contention all return the same valid dir
        val after = (1 to 3).map(_ => Persisted.ensure(spark, label, "s1") {
          dir => write(s"$dir/part1.bin", 8); write(s"$dir/data.bin", 8)
        })
        val fp = Paths.get(after.head.stripPrefix("file:"))
        val converged = after.distinct.size == 1 && marked(fp) && hasData(fp)

        val ok = allTerminated && loudOnly && successOk && noHusk && converged
        if (!ok) {
          // scalacheck shrinks poorly on threads — print the verdict
          println(s"FAIL trial=$t terminated=$allTerminated loud=$loudOnly" +
            s" success=$successOk noHusk=$noHusk converged=$converged" +
            s" after=$after failures=" +
            failures.toArray(Array.empty[Throwable]).mkString("; "))
        }
        ok
      } finally {
        spark.conf.unset("spark.graft.persisted.root")
        spark.conf.unset("spark.graft.persisted.staleMs")
      }
    }
}
