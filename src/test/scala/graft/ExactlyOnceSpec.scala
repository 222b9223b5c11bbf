package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exactly-once index appends (VERDICT r10 task #7 / r11 task #4):
  * kill-mid-append → retry must leave every index half byte-identical
  * to a crash-free run. The crash is simulated faithfully: a batch's
  * partial files are exactly "some halves written under the batch key,
  * no commit marker" — which is the only state a JVM death inside
  * `ingestBatch` can leave, since every write lands under
  * `<half>/batch=<key>` and the marker is the last action.
  */
class ExactlyOnceSpec extends graft.SparkSpec {

  private val hsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("hs", ArrayType(LongType))))
  private val bandSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("bkey", StringType),
    StructField("b", IntegerType)))
  private val edgeSchema = StructType(Seq(
    StructField("x", LongType), StructField("y", LongType)))
  private val digestSchema = StructType(Seq(
    StructField("k", StringType), StructField("rep", LongType)))
  private val textsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def rowSet(idx: String, half: String, schema: StructType): Seq[String] =
    BatchLog.read(spark, idx, half, schema)
      .collect().map(_.toString).sorted.toSeq

  test("ClusterStream: kill-mid-append + retry leaves every half byte-identical to a crash-free run") {
    val root = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/spec_xonce_cc_${ProcessHandle.current().pid()}") +
      s"/${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val base = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val seed = base.filter(col("doc_id") < 200)
    val batch = base.filter(col("doc_id") >= 200 && col("doc_id") < 300)
    val key = BatchLog.contentKey(batch)

    // reference: crash-free ingest
    val clean = s"$root/clean"
    ClusterStream.seedIndex(spark, seed, clean)
    assert(ClusterStream.ingestBatch(spark, batch, clean, key) == 100)

    // crashed: same seed, then a PARTIAL append under the same key —
    // half the hs rows and a truncated edge set, written exactly where
    // a dying ingestBatch would have put them, with no commit marker
    val crashed = s"$root/crashed"
    ClusterStream.seedIndex(spark, seed, crashed)
    val preLabels = ClusterStream.labels(spark, crashed)._1
      .collect().map(_.toString).sorted.toSeq
    val partialHs = graft.ops.Text.shingleHashes(batch.limit(50))
    BatchLog.write(partialHs, s"$crashed/hs", key)
    BatchLog.write(
      partialHs.select(col("doc_id").as("x"), (col("doc_id") + 1).as("y")).limit(7),
      s"$crashed/edges", key)
    // uncommitted partials are invisible: reads see only the seed rows
    assert(BatchLog.read(spark, crashed, "hs", hsSchema).count() == 200,
      "uncommitted partial hs rows leaked into reads")
    assert(ClusterStream.labels(spark, crashed)._1
      .collect().map(_.toString).sorted.toSeq == preLabels,
      "uncommitted partial files leaked into labels()")

    // retry with the same key: must overwrite the partials and commit
    assert(ClusterStream.ingestBatch(spark, batch, crashed, key) == 100)
    for ((half, schema) <- Seq("hs" -> hsSchema, "bands" -> bandSchema,
        "edges" -> edgeSchema, "digests" -> digestSchema))
      assert(rowSet(crashed, half, schema) == rowSet(clean, half, schema),
        s"half '$half' diverged after kill-mid-append + retry")
    assert(ClusterStream.labels(spark, crashed)._1
      .collect().map(_.toString).sorted.toSeq ==
      ClusterStream.labels(spark, clean)._1
        .collect().map(_.toString).sorted.toSeq)

    // a retry of a COMMITTED batch (crash between marker and checkpoint
    // commit) is skipped outright: row sets unchanged, returns 0
    val before = rowSet(crashed, "hs", hsSchema)
    assert(ClusterStream.ingestBatch(spark, batch, crashed, key) == 0L)
    assert(rowSet(crashed, "hs", hsSchema) == before,
      "committed-batch retry mutated the index")
  }

  test("consolidation: one generation dir per half, byte-equal reads, crash windows safe") {
    import java.nio.file.{Files, Paths}
    val root = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/spec_consol_${ProcessHandle.current().pid()}") +
      s"/${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val idx = s"$root/idx"
    val base = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    ClusterStream.seedIndex(spark, base.filter(col("doc_id") < 150), idx)
    val (b0, b1) = (base.filter(col("doc_id") >= 150 && col("doc_id") < 250),
      base.filter(col("doc_id") >= 250 && col("doc_id") < 350))
    ClusterStream.ingestBatch(spark, b0, idx, BatchLog.contentKey(b0))
    ClusterStream.ingestBatch(spark, b1, idx, BatchLog.contentKey(b1))
    def dirs(half: String): Seq[String] =
      BatchLog.committedDirs(spark, idx, half)
    def rows(half: String, schema: org.apache.spark.sql.types.StructType) =
      BatchLog.read(spark, idx, half, schema).collect().map(_.toString).sorted.toSeq
    val before = Map(
      "hs" -> rows("hs", hsSchema), "bands" -> rows("bands", bandSchema),
      "digests" -> rows("digests", digestSchema))
    assert(dirs("hs").size == 3) // seed + 2 batches

    // crash window 1: a partial generation dir without its marker is
    // invisible — stage one under consolidation's OWN next key, the
    // real crashed-consolidation shape
    BatchLog.write(base.limit(5).select(col("doc_id"),
        org.apache.spark.sql.functions.array().cast("array<bigint>").as("hs")),
      s"$idx/hs", BatchLog.nextGenKey(spark, idx, "c"))
    assert(rows("hs", hsSchema) == before("hs"),
      "uncommitted generation leaked into reads")

    // cross-operation isolation (review finding): edge compaction
    // commits its OWN generation namespace (g*), which must not make
    // the crashed consolidation's partial hs/batch=c0 visible
    ClusterStream.compactIndex(spark, idx)
    assert(rows("hs", hsSchema) == before("hs"),
      "a compaction commit resurrected a crashed consolidation's partial dir")

    // real consolidation (the retry overwrites the staged partial)
    ClusterStream.consolidateIndex(spark, idx)
    for ((half, schema) <- Seq("hs" -> hsSchema, "bands" -> bandSchema,
        "digests" -> digestSchema)) {
      assert(rows(half, schema) == before(half),
        s"consolidation changed '$half' rows")
      assert(dirs(half).size == 1, s"'$half' not consolidated: ${dirs(half)}")
    }

    // crash window 2: supersession marker present but deletes never ran
    // — simulate by re-creating a superseded-looking directory; the
    // marker must keep it out of reads
    val hsDirs = new java.io.File(s"$idx/hs").listFiles().filter(_.isDirectory)
    assert(hsDirs.length >= 1)
    val gen = dirs("hs").head.split('=').last
    val ghost = Paths.get(s"$idx/hs/batch=zombie")
    Files.createDirectories(ghost)
    // "zombie" has no marker at all → not committed → excluded; also
    // verify a superseded-but-present key stays excluded: re-write the
    // seed dir contents under its old key
    BatchLog.write(BatchLog.read(spark, idx, "hs", hsSchema).limit(3),
      s"$idx/hs", "stale_probe") // written but never committed
    assert(rows("hs", hsSchema) == before("hs"))
    assert(dirs("hs").map(_.stripPrefix("file:")) == Seq(s"$idx/hs/batch=$gen"))

    // consolidation composes with edge compaction and labels survive
    val labBefore = ClusterStream.labels(spark, idx)._1
      .collect().map(_.toString).sorted.toSeq
    val (lab, nRows) = ClusterStream.compactIndex(spark, idx)
    assert(lab.collect().map(_.toString).sorted.toSeq == labBefore)
    assert(dirs("edges").size == 1)
    assert(nRows == labBefore.count(r => {
      val m = "\\[(\\d+),(\\d+)\\]".r.findFirstMatchIn(r)
      m.exists(g => g.group(1) != g.group(2))
    }))

    // rewrite-marker pruning (review finding): after repeated
    // compactions only the LATEST generation marker of each namespace
    // survives — reads never re-open a history of superseded markers
    ClusterStream.compactIndex(spark, idx)
    val genMarkers = BatchLog.committed(spark, idx)
      .filter(_.matches("[cg][0-9]+")).toSeq.sorted
    assert(genMarkers.count(_.startsWith("g")) == 1,
      s"superseded compaction markers not pruned: $genMarkers")
    assert(genMarkers.count(_.startsWith("c")) <= 1,
      s"superseded consolidation markers not pruned: $genMarkers")
    // and labels are still intact after the prune
    assert(ClusterStream.labels(spark, idx)._1
      .collect().map(_.toString).sorted.toSeq == labBefore)

    // the continuous-dedup index consolidates the same way: seed + two
    // admitted batches fold into one generation dir per half, and
    // every half reads back the same rows
    val didx = s"$root/dedup_idx"
    DedupStream.seedIndex(spark, base.filter(col("doc_id") < 150), didx)
    for (lo <- Seq(150L, 250L)) {
      val b = base.filter(col("doc_id") >= lo && col("doc_id") < lo + 100)
      DedupStream.ingestBatch(spark, b, didx, BatchLog.contentKey(b))
    }
    val dHalves = Seq("texts" -> textsSchema, "hs" -> hsSchema, "bands" -> bandSchema)
    val dBefore = dHalves.map { case (h, sch) => h -> rowSet(didx, h, sch) }.toMap
    assert(BatchLog.committedDirs(spark, didx, "hs").size == 3) // seed + 2 batches
    DedupStream.consolidateIndex(spark, didx)
    for ((half, schema) <- dHalves) {
      assert(rowSet(didx, half, schema) == dBefore(half),
        s"dedup consolidation changed '$half' rows")
      val ds = BatchLog.committedDirs(spark, didx, half)
      assert(ds.size == 1, s"dedup '$half' not consolidated: $ds")
    }
  }

  test("DedupStream: kill-mid-append + retry leaves every half byte-identical to a crash-free run") {
    val root = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/spec_xonce_dd_${ProcessHandle.current().pid()}") +
      s"/${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val base = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val seed = base.filter(col("doc_id") < 200)
    // batch: 80 novel docs + one exact copy of an indexed doc (drops)
    val batch = base.filter(col("doc_id") >= 200 && col("doc_id") < 280)
      .unionByName(base.filter(col("doc_id") === 7)
        .select((col("doc_id") + 90000).as("doc_id"), col("text")))
    val key = BatchLog.contentKey(batch)

    val clean = s"$root/clean"
    DedupStream.seedIndex(spark, seed, clean)
    val cleanAdmitted = DedupStream.ingestBatch(spark, batch, clean, key)
    assert(cleanAdmitted > 0 && cleanAdmitted < 81) // the exact copy dropped

    val crashed = s"$root/crashed"
    DedupStream.seedIndex(spark, seed, crashed)
    // crash mid-append: only texts (partial) written, no marker
    BatchLog.write(batch.limit(30), s"$crashed/texts", key)
    assert(DedupStream.indexedTexts(spark, crashed).count() == 200,
      "uncommitted partial texts leaked into reads")
    // retry: recomputes survivors against committed state, overwrites
    assert(DedupStream.ingestBatch(spark, batch, crashed, key) == cleanAdmitted)
    for ((half, schema) <- Seq("texts" -> textsSchema, "hs" -> hsSchema,
        "bands" -> bandSchema))
      assert(rowSet(crashed, half, schema) == rowSet(clean, half, schema),
        s"half '$half' diverged after kill-mid-append + retry")
    // committed-batch retry: skip, no mutation
    assert(DedupStream.ingestBatch(spark, batch, crashed, key) == 0L)
    assert(rowSet(crashed, "texts", textsSchema) ==
      rowSet(clean, "texts", textsSchema))
  }

  test("fresh-checkpoint replay is a byte-identical no-op; an overlapping window re-appends") {
    import java.nio.file.{Files, Paths}
    val root = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/spec_ck_${ProcessHandle.current().pid()}") +
      s"/${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val inDir = s"$root/in"
    val idx = s"$root/idx"
    Files.createDirectories(Paths.get(inDir))
    val base = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    ClusterStream.seedIndex(spark, base.limit(0), idx)
    Seq(0, 1).foreach { w =>
      ClusterStream.stageFile(
        base.filter(pmod(xxhash64(col("doc_id")), lit(2)) === w),
        s"$root/stage_$w", s"$inDir/w$w.parquet")
    }
    assert(ClusterStream.runIngest(spark, inDir, idx, s"$root/chk_a") > 0)
    // every file under the index, content-hashed — byte-identity, not
    // just row-identity
    def snapshot(): Map[String, String] = {
      val rootPath = Paths.get(idx)
      import scala.jdk.CollectionConverters._
      Files.walk(rootPath).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map { p =>
          val md = java.security.MessageDigest.getInstance("MD5")
          rootPath.relativize(p).toString ->
            md.digest(Files.readAllBytes(p)).map(b => f"$b%02x").mkString
        }.toMap
    }
    val before = snapshot()
    // a FRESH checkpoint over the same staged windows: content-addressed
    // keys are already committed, so nothing is processed or written
    assert(ClusterStream.runIngest(spark, inDir, idx, s"$root/chk_b") == 0,
      "fresh-checkpoint replay must skip every ingested window")
    assert(snapshot() == before,
      "fresh-checkpoint replay must leave the index byte-identical")
    // a re-staged window overlapping both ingested ones has a new
    // content key: it re-appends the shared docs' hs rows (the
    // duplicate appends the consumers tolerate by construction)
    ClusterStream.stageFile(base.filter(col("doc_id") < 50),
      s"$root/stage_overlap", s"$inDir/overlap.parquet")
    assert(ClusterStream.runIngest(spark, inDir, idx, s"$root/chk_b") > 0,
      "an overlapping re-staged window must re-append")
    val labels = ClusterStream.labels(spark, idx)._1
      .collect().map(_.getLong(0)).toSeq
    assert(labels.length == labels.distinct.length,
      "duplicated appends must not duplicate label rows")
  }

  test("contentKey: sensitive to text changes and id changes, stable across staging paths") {
    import spark.implicits._
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val a = BatchLog.contentKey(df(Seq(1L -> "alpha beta", 2L -> "gamma")))
    // same content, different row order / partitioning → same key
    val a2 = BatchLog.contentKey(df(Seq(2L -> "gamma", 1L -> "alpha beta")).repartition(4))
    assert(a == a2, "key must not depend on row order or layout")
    // a corrected text under the same ids MUST re-key (review finding:
    // an id-only key would silently skip the corrected window)
    val b = BatchLog.contentKey(df(Seq(1L -> "alpha beta FIXED", 2L -> "gamma")))
    assert(b != a, "text change must produce a new window key")
    // id change re-keys too, and the key stays out of the gen namespaces
    val c = BatchLog.contentKey(df(Seq(3L -> "alpha beta", 2L -> "gamma")))
    assert(c != a)
    Seq(a, b, c).foreach { k =>
      assert(k.startsWith("w-") && k.length == 34, s"unexpected key shape $k")
    }
    // NULL-bearing rows must CONTRIBUTE to the key (ADVICE r13: the
    // unguarded concat nulled out and collect_list dropped it — two
    // windows differing only in null rows collided and the second was
    // skipped as committed)
    def dfn(rows: Seq[(java.lang.Long, String)]) =
      rows.toDF("doc_id", "text")
    val base = dfn(Seq(java.lang.Long.valueOf(1L) -> "alpha"))
    val withNullText = dfn(Seq(java.lang.Long.valueOf(1L) -> "alpha",
      java.lang.Long.valueOf(2L) -> null))
    val withNullId = dfn(Seq(java.lang.Long.valueOf(1L) -> "alpha",
      null.asInstanceOf[java.lang.Long] -> "beta"))
    assert(BatchLog.contentKey(withNullText) != BatchLog.contentKey(base),
      "a NULL-text row must change the window key")
    assert(BatchLog.contentKey(withNullId) != BatchLog.contentKey(base),
      "a NULL-id row must change the window key")
    assert(BatchLog.contentKey(withNullText) != BatchLog.contentKey(withNullId))
    // and NULL text is not conflated with empty text
    val withEmptyText = dfn(Seq(java.lang.Long.valueOf(1L) -> "alpha",
      java.lang.Long.valueOf(2L) -> ""))
    assert(BatchLog.contentKey(withEmptyText) != BatchLog.contentKey(withNullText))
  }

  test("pruneGenMarker: a generation's marker survives until EVERY half's data is superseded") {
    // advisor finding (round 13): consolidating a SUBSET of halves
    // supersedes only those — pruning the old generation's marker
    // while another half's only live data still sits in its batch=cN
    // directory would un-commit that data globally. The marker must
    // survive the partial supersession and prune only after the last
    // half lets go.
    import spark.implicits._
    val root = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/spec_prune_${ProcessHandle.current().pid()}") +
      s"/${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val idx = s"$root/idx"
    val sch = StructType(Seq(StructField("x", LongType), StructField("y", LongType)))
    def df(ids: Seq[Long]) = ids.toDF("x").select(col("x"), (col("x") * 10).as("y"))
    def rows(half: String): Seq[Long] =
      BatchLog.read(spark, idx, half, sch).collect().map(_.getLong(0)).sorted.toSeq
    for ((k, ids) <- Seq("aaaa-0" -> Seq(1L, 2L), "aaaa-1" -> Seq(3L, 4L))) {
      BatchLog.write(df(ids), s"$idx/A", k)
      BatchLog.write(df(ids.map(_ + 100)), s"$idx/B", k)
      BatchLog.commit(spark, idx, k)
    }
    // c0 consolidates BOTH halves: each half's only live dir is batch=c0
    BatchLog.consolidate(spark, idx, Seq("A" -> sch, "B" -> sch))
    assert(rows("A") == Seq(1L, 2L, 3L, 4L) && rows("B") == Seq(101L, 102L, 103L, 104L))
    // one more window, then consolidate ONLY half A (the subset case)
    BatchLog.write(df(Seq(5L)), s"$idx/A", "aaaa-2")
    BatchLog.write(df(Seq(105L)), s"$idx/B", "aaaa-2")
    BatchLog.commit(spark, idx, "aaaa-2")
    BatchLog.consolidate(spark, idx, Seq("A" -> sch))
    assert(BatchLog.committed(spark, idx).contains("c0"),
      "c0 pruned while half B's only data still lives in B/batch=c0")
    assert(rows("A") == Seq(1L, 2L, 3L, 4L, 5L), "half A changed")
    assert(rows("B") == Seq(101L, 102L, 103L, 104L, 105L),
      "half B lost rows after a subset-of-halves consolidation")
    // consolidating B supersedes the rest; NOW c0 must prune
    BatchLog.consolidate(spark, idx, Seq("B" -> sch))
    assert(rows("A") == Seq(1L, 2L, 3L, 4L, 5L))
    assert(rows("B") == Seq(101L, 102L, 103L, 104L, 105L))
    assert(!BatchLog.committed(spark, idx).contains("c0"),
      "fully-superseded generation marker should be pruned")
  }
}
