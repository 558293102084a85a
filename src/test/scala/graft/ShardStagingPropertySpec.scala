package graft

import java.nio.file.{Files, Path, Paths}

import org.scalacheck.{Gen, Prop, Properties, Test}

import org.apache.spark.sql.graft.PlanDsl

import graft.streaming.Streams

/** ScalaCheck properties over the persisted stream landing zones
  * (VERDICT r20 #8): the corpus-signature documents zone
  * ([[Streams.documentsZone]]) was only example-tested; this spec pins
  * its REPLAY INVARIANT over random (corpus, batches) — the staged
  * artifact is a pure function of the corpus and the batch rule, and
  * an attaching process replays the identical arrival sequence the
  * building process staged:
  *
  *  1. exactly `batches` files, named b000..b{n-1}.parquet, mtimes
  *     strictly ascending in batch order (the arrival order
  *     maxFilesPerTrigger derives) at the FIXED stamps the builder
  *     pins (1700000000000 + b*60000 — replay-stable, not copy-time);
  *     the same holds for the events zones over a random events
  *     table: three arrivals, every row of arrival b before every row
  *     of b+1 in ts, and with flush sentinels two more arrivals
  *     holding exactly the two sentinels, last;
  *  2. file b holds exactly the docs with doc_id % batches == b —
  *     no loss, no duplication, across salts that leave some residues
  *     EMPTY (the zero-row recovery file must exist with the corpus
  *     schema, so the stream still sees one trigger per batch);
  *  3. a second attach (same corpus; a fresh process finds the zone
  *     by the same glob) returns the SAME artifact byte-identically —
  *     no rebuild, no mutation;
  *  4. a corpus CHANGE (one extra doc) yields a DIFFERENT artifact
  *     path — stale staging can never be replayed against new data.
  */
object ShardStagingPropertySpec extends Properties("graft.shardstaging") {

  // each trial writes a corpus + stages it through real Spark jobs —
  // sample the space with a modest trial count
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  private lazy val spark = GraftSession.local(4)

  private case class Trial(
      ids: List[Long], // doc ids (distinct, possibly leaving residues empty)
      batches: Int,
      seed: Long,
      evTs: List[Long]) // event times, seconds (ties and empty ranges happen)

  private val genTrial: Gen[Trial] = for {
    batches <- Gen.choose(1, 5)
    n <- Gen.choose(0, 40)
    // ids drawn from a lattice that often leaves residues empty:
    // stride multiples guarantee id % batches hits few classes
    stride <- Gen.choose(1, 6)
    base <- Gen.choose(0L, 1000L)
    seed <- Gen.choose(0L, Long.MaxValue)
    nEv <- Gen.choose(1, 30)
    evTs <- Gen.listOfN(nEv, Gen.choose(0L, 30L * 86400))
  } yield Trial((0 until n).map(i => base + i.toLong * stride)
    .distinct.toList, batches, seed, evTs)

  private def rm(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).forEach(c => rm(c))
    Files.deleteIfExists(p)
  }

  private def snapshot(dir: Path): Seq[(String, Long, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    // only the staged arrivals: the artifact dir also carries the
    // Persisted publish-protocol markers (_DONE, _BUILD) and local-FS
    // .crc sidecars, which are protocol state, not replayed data
    Files.list(dir).iterator.asScala.toSeq
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.matches("""b\d{3}\.parquet"""))
      .map { p =>
        val crc = new java.util.zip.CRC32
        crc.update(Files.readAllBytes(p))
        (p.getFileName.toString, Files.size(p),
          Files.getLastModifiedTime(p).toMillis, crc.getValue)
      }.sortBy(_._1)
  }

  property("staged arrivals replay identically and partition the corpus") =
    Prop.forAll(genTrial) { t =>
      val work = PlanDsl.tempDir("graft-shardstage-prop")
      val artRoot = work.resolve("artifacts")
      Files.createDirectories(artRoot)
      spark.conf.set("spark.graft.persisted.root", s"file:$artRoot")
      try {
        import spark.implicits._
        val corpusDir = work.resolve("corpus").toString
        t.ids.map(i => (i, s"text-$i-${t.seed}"))
          .toDF("doc_id", "text")
          .write.parquet(s"$corpusDir/documents.parquet")

        val staged1 = Streams.documentsZone(spark, corpusDir, t.batches)
        val dir1 = Paths.get(staged1.stripPrefix("file:"))
        val snap1 = snapshot(dir1)

        // 1. file set + fixed ascending mtimes
        val expectNames =
          (0 until t.batches).map(b => f"b$b%03d.parquet")
        val namesOk = snap1.map(_._1) == expectNames
        val mtimesOk = snap1.zipWithIndex.forall { case ((_, _, m, _), b) =>
          m == 1700000000000L + b * 60000L
        }

        // 2. per-file contents == the mod residue, empty residues staged
        // as zero-row files with the corpus schema
        val contentsOk = (0 until t.batches).forall { b =>
          val f = dir1.resolve(f"b$b%03d.parquet")
          val got = spark.read.parquet(f.toString)
          got.columns.toSeq == Seq("doc_id", "text") && {
            val gotIds = got.select("doc_id").collect()
              .map(_.getLong(0)).sorted.toSeq
            val want = t.ids.filter(i => math.floorMod(i, t.batches) == b)
              .sorted
            gotIds == want
          }
        }

        // 1 (events zones): stage each through the public stream and
        // find its dir as the one new zone on the root
        t.evTs.zipWithIndex.map { case (sec, i) =>
          (i.toLong, new java.sql.Timestamp(sec * 1000L), i.toLong % 3,
            "view", 1.0, "{}")
        }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.parquet(s"$corpusDir/events.parquet")
        def zones(): Set[Path] = {
          import scala.jdk.CollectionConverters._
          Files.list(artRoot).iterator.asScala.toSet
            .filter(_.getFileName.toString.startsWith("graft-stream-src-"))
        }
        def staged(flush: Boolean): Path = {
          val pre = zones()
          Streams.eventsStream(spark, corpusDir, flushSentinel = flush)
          val fresh = zones() -- pre
          require(fresh.size == 1, s"expected one new zone, got $fresh")
          fresh.head
        }
        // (name, mtime, sentinel rows, (min ts, max ts) unless empty)
        // per arrival file
        def arrivals(dir: Path) = snapshot(dir).map { case (n, _, m, _) =>
          val r = spark.read.parquet(dir.resolve(n).toString)
            .selectExpr("count_if(user_id = -1)", "min(ts)", "max(ts)").head()
          (n, m, r.getLong(0),
            if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))
        }
        // names and mtimes ascend together, and each non-empty arrival
        // ends before the next one starts
        def ordered(as: Seq[(String, Long, Long, Option[(Long, Long)])]) =
          as.map(_._1) == as.indices.map(b => f"b$b%03d.parquet") &&
            as.map(_._2) == as.indices.map(b => 1700000000000L + b * 60000L) &&
            as.flatMap(_._4).sliding(2).forall {
              case Seq((_, hi), (lo, _)) => hi < lo
              case _ => true
            }
        val plain = arrivals(staged(flush = false))
        val flushed = arrivals(staged(flush = true))
        val eventsOk = plain.size == 3 && ordered(plain) &&
          plain.forall(_._3 == 0) &&
          flushed.size == 5 && ordered(flushed) &&
          flushed.map(_._3) == Seq(0L, 0L, 0L, 1L, 1L)

        // 3. second attach (a fresh process finds the zone by the same
        // glob) returns the same artifact, byte-identical, without
        // rebuilding
        val staged2 = Streams.documentsZone(spark, corpusDir, t.batches)
        val attachOk = staged2 == staged1 && snapshot(dir1) == snap1

        // 4. a corpus change re-keys the artifact
        (t.ids.map(i => (i, s"text-$i-${t.seed}")) :+
            (t.ids.maxOption.getOrElse(0L) + 1L, "extra"))
          .toDF("doc_id", "text")
          .write.mode("append").parquet(s"$corpusDir/documents.parquet")
        val staged3 = Streams.documentsZone(spark, corpusDir, t.batches)
        val rekeyOk = staged3 != staged1

        Prop(namesOk) :| s"names ${snap1.map(_._1)} != $expectNames" &&
          Prop(mtimesOk) :| "mtimes not the fixed arrival stamps" &&
          Prop(eventsOk) :| s"events zones out of order: $plain / $flushed" &&
          Prop(contentsOk) :| "file contents != mod residues" &&
          Prop(attachOk) :| "re-attach rebuilt or mutated the artifact" &&
          Prop(rekeyOk) :| "corpus change did not re-key the artifact"
      } finally {
        spark.conf.unset("spark.graft.persisted.root")
        rm(work)
      }
    }
}
