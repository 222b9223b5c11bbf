package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data text operators over the `documents` table
  * (SURVEY §2.10): exact + near dedup (MinHash/LSH, SimHash, n-gram
  * Jaccard), language ID, quality scoring, token counting, document
  * fingerprinting.
  *
  * Design rules:
  *  - every hash is md5-derived (`h32`/`h32Seeded`, graft.ops package)
  *    so the DuckDB oracle replicates it bit-for-bit — engine-native
  *    `hash`/`xxhash64` would make the operators un-oracle-able;
  *  - everything is `groupBy`/join/HOF — no `collect()`, no all-pairs
  *    cross join: candidate generation is always hash-bucketed (LSH
  *    band, SimHash value, source block), which is the shape that
  *    survives 100 TB;
  *  - the testdata's 500 documents are all distinct, so dedup keys
  *    build a *deterministic corrupted corpus* (exact copies at
  *    doc_id+10000, last-token-truncated copies at +20000) and then
  *    find exactly those plants — the oracle proves the operator finds
  *    what it should and nothing else.
  */
object Text {

  import QueryDef.sql

  // ---- shared building blocks -------------------------------------------

  /** `df`'s rows planted again at doc_id + `offset`: an exact copy, or
    * (`truncate`) a near-copy with the last token dropped, which shares
    * all but two 3-shingles with its original. These are the
    * deterministic duplicates the dedup keys must find: exact copies at
    * +10000/+30000/+50000, truncations at +20000/+40000/+60000. `carry`
    * columns ride between doc_id and text. DuckDB twin: [[D.copyAt]].
    */
  private[graft] def copyAt(df: DataFrame, offset: Int, truncate: Boolean = false,
      carry: Seq[String] = Nil): DataFrame =
    df.select(((col("doc_id") + offset).as("doc_id") +: carry.map(col)) :+
      (if (truncate) array_join(slice(tokens, lit(1), size(tokens) - 1), " ").as("text")
       else col("text")): _*)

  /** `df`'s (doc_id, carry…, text) rows plus one [[copyAt]] per
    * (offset, truncate) plant. DuckDB twin: [[D.withCopies]].
    */
  private[graft] def withCopies(df: DataFrame, plants: Seq[(Int, Boolean)],
      carry: Seq[String] = Nil): DataFrame =
    plants.foldLeft(df.select((col("doc_id") +: carry.map(col)) :+ col("text"): _*)) {
      case (acc, (offset, truncate)) => acc.unionByName(copyAt(df, offset, truncate, carry))
    }

  /** Jaccard similarity of two hash-set columns. DuckDB twin:
    * [[D.jaccard]].
    */
  private[graft] def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** 3-token shingles, distinct, as an array column (needs ≥3 tokens).
    * DuckDB twin: list_distinct(list_transform(range(1, len-1),
    *   i -> array_to_string(toks[i:i+2], ' '))).
    */
  private[graft] def shingles3(toksCol: Column): Column =
    // <3 tokens → empty shingle set (sequence(1, size-2) would count
    // DOWN for size=2 and slice(_, 0, _) throws); matches the oracle's
    // range(1, len-1), which is empty for len<3
    when(size(toksCol) >= 3,
      array_distinct(transform(
        sequence(lit(1), size(toksCol) - 2),
        i => array_join(slice(toksCol, i, lit(3)), " "))))
      .otherwise(array().cast("array<string>"))

  /** DuckDB fragments of the text and pipeline oracles: the SQL twin of
    * each shared Spark stage, written once. A fragment that opens a CTE
    * body starts on a new line, so `x AS (${...})` keeps `(` a token.
    */
  private[ops] object D {
    /** md5-derived 32-bit hash of an expression — twin of ops.h32. */
    def h32(x: String): String =
      s"('0x' || substr(md5($x), 1, 8))::BIGINT"
    /** Seeded twin of ops.h32Seeded (seed expression, value expression). */
    def h32s(seed: String, x: String): String =
      s"('0x' || substr(md5($seed || ':' || $x), 1, 8))::BIGINT"
    val toks = "string_split(text, ' ')"
    val stopwords: String = enStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    /** Twin of [[Text.copyAt]]: `from`'s rows planted at doc_id + `offset`. */
    def copyAt(offset: Int, from: String, truncate: Boolean = false,
        carry: String = ""): String = {
      val text = if (truncate) s"array_to_string(($toks)[1:len($toks)-1], ' ')" else "text"
      s"SELECT doc_id + $offset, $carry$text FROM $from"
    }
    /** Twin of [[Text.withCopies]]; `carry` is a column prefix ("source, "). */
    def withCopies(from: String, plants: Seq[(Int, Boolean)], carry: String = ""): String =
      (s"SELECT doc_id, ${carry}text FROM $from" +: plants.map { case (o, t) =>
        copyAt(o, from, t, carry) }).mkString("\n  UNION ALL ")
    val shingles =
      s"list_distinct(list_transform(range(1, len($toks) - 1), " +
        s"i -> array_to_string(($toks)[i:i+2], ' ')))"
    /** Twin of [[Text.hsCol]]: the distinct shingle-hash set of `text`. */
    val hs = s"list_distinct(list_transform($shingles, x -> ${h32("x")}))"
    /** Twin of [[Text.minhashBands]]: (doc_id, b, bkey) over the `hs`
      * column of relation `rel`.
      */
    def bands(rel: String): String = {
      val mixes = minhashMix.map { case (a, b) =>
        s"list_min(list_transform(hs, h -> (h * $a + $b) % $minhashP))"
      }.mkString("[", ",\n   ", "]")
      s"""
         |  SELECT s.doc_id, b,
         |         sig[3*b+1]::VARCHAR || ',' || sig[3*b+2]::VARCHAR || ',' || sig[3*b+3]::VARCHAR AS bkey
         |  FROM (SELECT doc_id, $mixes AS sig FROM $rel) s, range(0, 4) t(b)""".stripMargin
    }
    /** Twin of [[Text.jaccard]]. */
    def jaccard(a: String, b: String): String =
      s"len(list_intersect($a, $b))::DOUBLE / len(list_distinct(list_concat($a, $b)))"
    /** Per-doc Gopher metrics over token list `ts` — twin of
      * [[Text.gopherMetrics]] (the list_* forms, see gopherSumLen).
      */
    def gopherMetrics(ts: String): String =
      s"""len($ts)::BIGINT AS n_tokens,
         |    list_sum(list_transform($ts, w -> len(w)))::BIGINT AS sum_len,
         |    len(list_filter($ts, w -> regexp_matches(w, '[a-z]')))::BIGINT AS n_alpha,
         |    len(list_filter($ts, w -> list_contains($stopwords, w)))::BIGINT AS n_stop""".stripMargin
  }

  /** Fixed marker-token profiles for the language-ID heuristic. The
    * corpus vocabulary is synthetic, so real-language function words
    * appear mostly for 'en' — the operator demonstrates the scoring
    * mechanism (per-profile hit counting + argmax with deterministic
    * tie-break), which is what transfers to real corpora.
    */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"))

  /** MinHash permutation family: h ↦ (h·a + b) mod P over the md5-base
    * shingle hash. Constants derived driver-side from md5 and baked
    * into both plans; a < 2^31 keeps h·a inside a signed 64-bit value
    * for h < 2^32 in both engines.
    */
  val minhashP: Long = 4294967291L // largest prime < 2^32
  val minhashMix: Seq[(Long, Long)] = Seq.tabulate(12) { s =>
    def m(tag: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mh:$tag:$s".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    (m("a") % ((1L << 31) - 1) + 1, m("b") % (1L << 31))
  }

  /** (doc_id, hs): distinct md5-based 3-shingle hashes of a
    * (doc_id, text) frame — the input to every MinHash consumer. ONE
    * canonical implementation (dedup_near, dedup_incremental, the
    * decontamination keys and the streaming indexes share it): a
    * band-count or shingle-width change cannot silently diverge
    * between them.
    */
  private[graft] def shingleHashes(df: DataFrame): DataFrame =
    df.select(col("doc_id"), hsCol(col("text")).as("hs"))

  /** The shingle-hash set as a bare Column over a text column — the
    * [[shingleHashes]] expression factored out so a caller can compute
    * it alongside OTHER text-derived proxies (md5 digest, token count)
    * in ONE projection over the corpus, then checkpoint the combined
    * metadata frame and never touch the text again (guide §8: decide
    * with small rows; see Pipeline.componentLabels / pipeline_e2e).
    */
  private[graft] def hsCol(text: Column): Column =
    array_distinct(transform(shingles3(split(text, " ")), x => h32(x)))

  /** 12-slot MinHash signature of an `hs` frame (h·a+b mod P per
    * permutation — integer universal hashes over the md5 base hash).
    */
  private[graft] def minhashSig(hsDf: DataFrame): DataFrame =
    hsDf.select(col("doc_id"),
      array(minhashMix.map { case (a, b) =>
        array_min(transform(col("hs"), h => (h * a + b) % minhashP))
      }: _*).as("sig"))

  /** 4 bands × 3 signature slots as (doc_id, b, bkey) — the LSH
    * candidate-generation key.
    *
    * Docs with an EMPTY shingle set (< 3 tokens) are excluded: their
    * signature slots are all null, which in SQL band joins (the
    * oracles) never match — but Spark's `concat_ws` SKIPS nulls, so
    * every such doc would land in one shared "" bucket and self-join
    * quadratically (all candidates then fail the Jaccard verify:
    * correct output, O(shorts²) wasted work — a real hot-bucket at
    * web scale, where tiny docs are common). No shingles ⇒ not
    * findable by this method ⇒ no band rows, matching the SQL-null
    * semantics by construction.
    */
  private[graft] def minhashBands(hsDf: DataFrame): DataFrame =
    minhashSig(hsDf.filter(size(col("hs")) > 0)).select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(3)), b =>
        concat_ws(",",
          element_at(col("sig"), b * 3 + 1),
          element_at(col("sig"), b * 3 + 2),
          element_at(col("sig"), b * 3 + 3)))))
      .select(col("doc_id"), col("pos").as("b"), col("col").as("bkey"))

  private[graft] val enStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "is", "in", "it", "on", "for")

  // ---- Gopher metrics as codegen'd whole-string expressions (r21) -----
  //
  // The original forms folded a lambda over split(text, ' ') per row
  // (higher-order functions are CodegenFallback — every token paid an
  // interpreted closure call), and pipeline_e2e re-evaluates the
  // metrics on every lineage pass over its keepers frame. Each rewrite
  // below is EXACTLY equal to its HOF twin for every string (the
  // DuckDB oracles keep the original list_* forms, so the oracle gate
  // pins the equivalence):
  //
  //  - sum of token lengths: split on the single char ' ' yields
  //    n_tokens = (#spaces + 1) pieces whose lengths total
  //    length(text) − #spaces, so Σ len = length(text) − n_tokens + 1
  //    (empty pieces from doubled/leading spaces contribute 0 on both
  //    sides; null text → null on both sides).
  //  - tokens containing [a-z]: each match of (?:^| )[^ a-z]*[a-z] is
  //    anchored at one token's start (the [^ a-z]* run cannot cross a
  //    space and backtrack-free-consumes to the first letter), and a
  //    token can host at most one match since the next scan resumes
  //    past the consumed anchor+prefix — one match per qualifying
  //    token, in one linear compiled-regex pass.
  //  - stopword tokens: (?:^| )(?:the|a|…)(?= |$) — alternation after
  //    a token-start anchor with a token-end lookahead counts exactly
  //    the whole-token equality hits; the lookahead consumes nothing,
  //    so consecutive stopwords each anchor on their own delimiter.
  private[graft] def gopherSumLen: org.apache.spark.sql.Column =
    (length(col("text")) - size(tokens) + 1)
      .cast("bigint").as("sum_len")
  private[graft] def gopherNAlpha: org.apache.spark.sql.Column =
    regexp_count(col("text"), lit("(?:^| )[^ a-z]*[a-z]"))
      .cast("bigint").as("n_alpha")
  private[graft] def gopherNStop: org.apache.spark.sql.Column =
    regexp_count(col("text"),
        lit(enStopwords.mkString("(?:^| )(?:", "|", ")(?= |$)")))
      .cast("bigint").as("n_stop")

  /** Per-doc Gopher metrics: n_tokens, sum_len, n_alpha, n_stop.
    * DuckDB twin: [[D.gopherMetrics]].
    */
  private[graft] def gopherMetrics: Seq[Column] =
    Seq(size(tokens).cast("bigint").as("n_tokens"), gopherSumLen, gopherNAlpha, gopherNStop)

  /** The four Gopher rules' thresholds, shared by gopher_filter and
    * pipeline_e2e on both engines: word count, mean word length and
    * alphabetic-token fraction (both micro-units), stopword count.
    */
  private[graft] val GopherWords = (30, 100000)
  private[graft] val GopherMeanLenMicro = (3000000, 10000000)
  private[graft] val GopherAlphaMicro = 800000
  private[graft] val GopherMinStop = 2

  /** The quality_score signal factored as one expression so
    * `quality_buckets` (Pipeline) buckets on the IDENTICAL doubles —
    * operator and bucketing key cannot drift apart. TextOpsSpec pins
    * this equal to quality_score's `quality_micro` per doc.
    */
  private[graft] def qualityMicroCol: org.apache.spark.sql.Column = {
    val tk = tokens
    val sw = array(enStopwords.map(lit): _*)
    val uniq = size(array_distinct(tk)).cast("double") / size(tk)
    val stop = size(filter(tk, t => array_contains(sw, t))).cast("double") / size(tk)
    floor((lit(0.5) * uniq
      + lit(0.3) * least(stop * 5.0, lit(1.0))
      + lit(0.2) * least(size(tk).cast("double") / 60.0, lit(1.0))) * 1000000)
      .cast("bigint")
  }

  /** DuckDB twin of [[qualityMicroCol]] — a full `SELECT doc_id,
    * q_micro FROM documents` usable as a CTE body.
    */
  private[graft] def qualityMicroSql: String = {
    val sw = D.stopwords
    s"""SELECT doc_id,
       |  CAST(floor((0.5 * (len(list_distinct(string_split(text, ' ')))::DOUBLE
       |                     / len(string_split(text, ' ')))
       |    + 0.3 * least((len(list_filter(string_split(text, ' '),
       |                     t -> list_contains($sw, t)))::DOUBLE
       |                   / len(string_split(text, ' '))) * 5.0, 1.0)
       |    + 0.2 * least(len(string_split(text, ' '))::DOUBLE / 60.0, 1.0))
       |    * 1000000) AS BIGINT) AS q_micro
       |FROM documents""".stripMargin
  }

  /** Per-source retention rates (micro-units) for the stratified
    * sampling key — three mixing tiers over the fixture's 20 sources,
    * literal so the oracle replicates the dim as a VALUES list.
    */
  val sampleTiers: Seq[(String, Long)] = (0 until 20).map { i =>
    s"src$i" -> (if (i < 5) 800000L else if (i < 10) 500000L else 200000L)
  }

  /** RE2-and-Java-compatible PII patterns (no lookaround, lowercase
    * corpus): shared verbatim by the Spark plan and the DuckDB oracle.
    * Declared BEFORE `defs` — the strict Seq below interpolates them
    * at object init, and a later val would still be null then.
    */
  private val PiiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PiiPhone = "555-[0-9]{4}"

  // ---- stored band index (the production shape of incremental dedup) ----

  /** Build (or reuse) the persisted MinHash index of the "old" corpus
    * half (doc_id < 250) at `sfDir`: `<dir>/hs` holds (doc_id, hs) for
    * the Jaccard-verify join, `<dir>/bands` holds (doc_id, bkey)
    * parquet-partitioned by band number. This is the layout
    * `stream_embed_index` proves for vectors, applied to text dedup:
    * the old side's shingling + 12-permutation MinHash is computed ONCE
    * at index-build time, and every later batch only scans it — the
    * O(batch)-not-O(corpus) compute story (`PLANS.md`). Staleness is
    * checked against the source parquet; concurrent builders stage
    * under a pid-unique directory and atomically rename, so a lost race
    * costs a duplicate build, never a torn index.
    */
  private[graft] def stagedBandIndex(s: SparkSession, d: String): String =
    stagedHsIndex(s, d, "band_index")(
      docs(s, d).select(col("doc_id"), col("text")).filter(col("doc_id") < 250))

  /** Generic staged (hs, bands) MinHash index over an arbitrary
    * (doc_id, text) corpus, keyed by `name` + source path and stamped
    * against the source parquet — the reusable core of
    * [[stagedBandIndex]], also backing `dedup_components`' edge build
    * (Pipeline.componentLabelsIndexed): any key whose corpus derives
    * deterministically from `documents.parquet` can persist its
    * shingling + 12-permutation MinHash once and scan it thereafter.
    * `extra` adds further corpus-derived parquet datasets under
    * `<dir>/<part>`, built in the same staged publish so the index can
    * never hold halves from different corpus versions.
    */
  /** Build-format token of [[stagedHsIndex]] artifacts — bump when the
    * shingle/MinHash/band recipe or any extra's schema changes.
    */
  private[graft] val hsIndexFormat: String = "hs1"

  private[graft] def stagedHsIndex(s: SparkSession, d: String, name: String,
      extra: Map[String, (DataFrame, DataFrame, DataFrame) => DataFrame] = Map.empty)(
      corpus: => DataFrame): String = {
    val src = s"$d/documents.parquet"
    val key = src.replaceAll("[^A-Za-z0-9.]", "_")
    // hsIndexFormat: build-version token in the stamp — a recipe change
    // (shingling, permutation count, band layout, extras schema) must
    // rebuild rather than serve a stale index (see stagedArtifact doc)
    graft.ops.stagedArtifact(s, s"${name}_$key",
        s"${graft.ops.sourceStamp(s, src)}:$hsIndexFormat") { stage =>
      val c = corpus
      val oldHs = shingleHashes(c)
      oldHs.write.mode("overwrite").parquet(s"$stage/hs")
      // bands derive from the WRITTEN hs (not a recompute) so index
      // halves can never disagree
      minhashBands(s.read.parquet(s"$stage/hs"))
        .write.mode("overwrite").partitionBy("b").parquet(s"$stage/bands")
      // extras receive the WRITTEN halves for the same reason — a
      // derived artifact (e.g. the stored near edges) re-shingling the
      // corpus would both double the dominant build cost and risk
      // drifting from the halves that later batches verify against
      val writtenHs = s.read.parquet(s"$stage/hs")
      val writtenBands = s.read.parquet(s"$stage/bands")
        .select(col("doc_id"), col("b"), col("bkey"))
      extra.foreach { case (part, f) =>
        f(c, writtenHs, writtenBands).write.mode("overwrite").parquet(s"$stage/$part")
      }
    }
  }

  /** Shared oracle for both incremental-dedup variants — the indexed
    * key must produce byte-identical output to the recomputing one.
    */
  private val incrementalOracle: String = {
    val old = "documents WHERE doc_id < 250"
    s"""WITH old_docs AS (SELECT doc_id, text FROM $old),
       |new_batch AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
       |  UNION ALL ${D.copyAt(30000, old)}
       |  UNION ALL ${D.copyAt(40000, old, truncate = true)}),
       |old_hs AS (SELECT doc_id, text, ${D.hs} AS hs FROM old_docs),
       |new_hs AS (SELECT doc_id, text, ${D.hs} AS hs FROM new_batch),
       |old_bands AS (${D.bands("old_hs")}),
       |new_bands AS (${D.bands("new_hs")}),
       |near_dup AS (
       |  SELECT DISTINCT n.doc_id
       |  FROM new_bands n
       |  JOIN old_bands o ON n.b = o.b AND n.bkey = o.bkey
       |  JOIN new_hs nh ON nh.doc_id = n.doc_id
       |  JOIN old_hs oh ON oh.doc_id = o.doc_id
       |  WHERE ${D.jaccard("nh.hs", "oh.hs")} >= 0.5),
       |exact_dup AS (
       |  SELECT DISTINCT n.doc_id FROM new_batch n JOIN old_docs o ON n.text = o.text),
       |batch_keep AS (SELECT min(doc_id) AS doc_id FROM new_batch GROUP BY text)
       |SELECT doc_id FROM new_batch
       |WHERE doc_id IN (SELECT doc_id FROM batch_keep)
       |  AND doc_id NOT IN (SELECT doc_id FROM exact_dup)
       |  AND doc_id NOT IN (SELECT doc_id FROM near_dup)
       |ORDER BY doc_id""".stripMargin
  }

  /** The corrupted "new batch" both incremental variants dedup: every
    * old doc re-arrives as an exact copy (+30000) and a truncated
    * near-copy (+40000), plus the genuinely new half of the corpus.
    */
  private[graft] def incrementalNewBatch(base: DataFrame, old: DataFrame): DataFrame =
    base.filter(col("doc_id") >= 250)
      .unionByName(copyAt(old, 30000))
      .unionByName(copyAt(old, 40000, truncate = true))

  /** The (doc_id, text) rows of `newBatch` that survive dedup against an
    * old corpus given as (texts, hs, bands): the min doc_id per text
    * within the batch, minus exact copies of an old text, minus
    * near-copies (a shared MinHash band, Jaccard ≥ 0.5) of an old doc.
    * new×old only — never old×old. ONE body behind the recomputing and
    * indexed keys and the streaming index (DedupStream); only where the
    * old side comes from differs, and each caller decides whether to
    * cache `newHs` (it feeds the band build and the verify join).
    */
  private[graft] def incrementalSurvivors(newBatch: DataFrame, newHs: DataFrame,
      oldTexts: DataFrame, oldHs: DataFrame, oldBands: DataFrame): DataFrame = {
    val nearDup = minhashBands(newHs).as("n")
      .join(oldBands.as("o"),
        col("n.b") === col("o.b") && col("n.bkey") === col("o.bkey"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .distinct()
      .join(newHs.as("nh"), col("nh.doc_id") === col("new_id"))
      .join(oldHs.as("oh"), col("oh.doc_id") === col("old_id"))
      .filter(jaccard(col("nh.hs"), col("oh.hs")) >= 0.5)
      .select(col("new_id").as("doc_id"))
      .distinct()
    val batchKeep = newBatch.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    newBatch
      .join(batchKeep.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(oldTexts.select(col("text")), Seq("text"), "left_anti") // exact vs corpus
      .join(nearDup, Seq("doc_id"), "left_anti")                    // near vs corpus
  }

  /** [[incrementalSurvivors]] for the two batch keys: the new batch's
    * hs cached, the surviving ids in order.
    */
  private def incrementalDedup(newBatch: DataFrame, oldTexts: DataFrame,
      oldHs: DataFrame, oldBands: DataFrame): DataFrame = {
    val newHs = shingleHashes(newBatch).cache(); newHs.count()
    incrementalSurvivors(newBatch, newHs, oldTexts, oldHs, oldBands)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Cross-document exact substring REMOVAL (Lee et al. 2021 §3,
    * "Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr): when a span occurs in ≥2 documents, keep ONE
    * canonical occurrence corpus-wide and strip the rest, emitting the
    * cleaned corpus. `span_dedup` only *scores* repeated windows; this
    * applies the edit.
    *
    * Spark-shaped approximation at 8-gram granularity (no suffix sort
    * of the corpus — gram-keyed aggregates and join-backs only, the
    * span_dedup topology):
    *  1. explode token windows → (doc_id, pos, gram);
    *  2. one gram-keyed aggregate (map-side combined) finds grams in
    *     ≥2 distinct docs AND their canonical occurrence = min
    *     (doc_id, pos) encoded as doc_id*1e6+pos;
    *  3. join-back on the gram key: every NON-canonical occurrence of
    *     a repeated gram is a removed window; its 8 covered token
    *     positions go into a per-doc drop set (distinct + collect_set,
    *     bounded by doc length);
    *  4. rebuild each doc from its kept positions in order.
    * A maximal shared paragraph of L tokens yields L-7 repeated
    * windows whose union covers exactly the paragraph, so the edit
    * removes whole repeated spans, not isolated tokens. Within-doc
    * repeats are untouched (the repeat test is cross-doc, matching
    * span_dedup). Kept fraction is exact integer micro-units.
    * 100 TB: gram keys become xxhash64 (8 bytes) and step 4 runs as a
    * second pass joining drop sets back to the text partition-local;
    * nothing here is all-pairs and no stage holds more than one doc's
    * positions in memory. Kept as text grams so the DuckDB oracle is
    * byte-identical.
    */
  private[graft] def spanDedupClean(docsDf: DataFrame): DataFrame =
    spanDedupCleanParts(docsDf)._1

  /** [[spanDedupClean]] plus its internal repeated-gram frame
    * `(gram, canon)` — exposed so span_dedup_residual's
    * n_rep_before = count(rep) reads the SAME cached window explode
    * the clean already paid for, instead of re-exploding the corpus
    * through spanRepGramCount (r22, guide §1.2: the two are equal by
    * construction — rep rows ARE the distinct grams in ≥2 docs).
    */
  private[graft] def spanDedupCleanParts(docsDf: DataFrame): (DataFrame, DataFrame) = {
    val ts = tokens
    val toks = docsDf.select(col("doc_id"), ts.as("ts"), size(ts).as("n"))
    // wins feeds BOTH the rep aggregate and the drops join probe —
    // cached, or the corpus-wide window explode runs twice per action
    // (review finding)
    val wins = toks.filter(col("n") >= 8)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), col("n") - 7),
          i => struct(i.as("i"),
            array_join(slice(col("ts"), i, lit(8)), " ").as("gram")))).as("w"))
      .select(col("doc_id"), col("w.i").as("i"), col("w.gram").as("gram")).cache()
    val rep = wins.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"),
        min(col("doc_id") * 1000000L + col("i")).as("canon"))
      .filter(col("nd") > 1)
      .select(col("gram"), col("canon"))
    // MAXIMAL-SPAN MERGE (round 14, closing the Lee §3 gap the
    // windowed approximation left): adjacent/overlapping stripped
    // windows of one doc merge into maximal spans BEFORE the edit —
    // window starts sorted per doc, a new span opens when the gap to
    // the previous start exceeds the window width (8), span = [min i,
    // max i + 7]. A 200-token shared passage is then ONE reported
    // span (n_spans/max_span_len in the output), not 193 fragments,
    // and the strip positions derive from the spans — the same
    // position union as before (interval merge IS position union), so
    // the residual-zero proof carries over unchanged. Per-doc window
    // sort only — bounded by doc length, never corpus-wide.
    val dropWins = wins.join(rep, Seq("gram"))
      .filter(col("doc_id") * 1000000L + col("i") =!= col("canon"))
      .select(col("doc_id"), col("i")).distinct()
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val spans = dropWins
      .withColumn("newspan",
        when(col("i") - lag(col("i"), 1).over(wSeq) <= 8, lit(0)).otherwise(lit(1)))
      .withColumn("sid", sum(col("newspan")).over(wSeq))
      .groupBy(col("doc_id"), col("sid"))
      .agg(min(col("i")).as("s"), (max(col("i")) + 7).as("e"))
    val nspans = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_spans"),
        max(col("e") - col("s") + 1).cast("bigint").as("max_span_len"))
    val drops = spans
      .select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("p"))
      .groupBy(col("doc_id")).agg(collect_set(col("p")).as("drops"))
    val cleaned = toks.join(drops, Seq("doc_id"), "left")
      .join(nspans, Seq("doc_id"), "left")
      .withColumn("ds", coalesce(col("drops"), array().cast("array<int>")))
      .select(col("doc_id"),
        col("n").cast("bigint").as("n_tokens"),
        size(col("ds")).cast("bigint").as("n_dropped"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span_len"), lit(0L)).as("max_span_len"),
        expr("CAST((1000000 * (n - size(ds))) div n AS BIGINT)")
          .as("kept_frac_micro"),
        array_join(
          transform(
            filter(sequence(lit(1), col("n")),
              p => !array_contains(col("ds"), p)),
            p => element_at(col("ts"), p)),
          " ").as("cleaned_text"))
    (cleaned, rep)
  }

  /** Count of distinct 8-grams occurring in ≥2 distinct docs of
    * `textCol` — one row, column `outCol`. The repeated-gram metric
    * span_dedup scores and span_dedup_residual re-checks post-edit. */
  private[graft] def spanRepGramCount(docsDf: DataFrame, textCol: String,
                                      outCol: String): DataFrame = {
    val ts = split(col(textCol), " ")
    docsDf.select(col("doc_id"), ts.as("ts"), size(ts).as("n"))
      .filter(col("n") >= 8)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), col("n") - 7),
          i => array_join(slice(col("ts"), i, lit(8)), " "))).as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd")).filter(col("nd") > 1)
      .agg(count(lit(1)).cast("bigint").as(outCol))
  }

  /** DuckDB twin of [[spanDedupClean]]'s CTE chain up to the cleaned
    * per-doc rows, parameterized by the source relation. */
  private def spanCleanSql(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS ts,
       |               len(string_split(text, ' ')) AS n FROM $src),
       |wins AS (
       |  SELECT doc_id, i, array_to_string(ts[i:i+7], ' ') AS gram
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, n - 7)) AS i) x
       |  WHERE n >= 8),
       |rep AS (
       |  SELECT gram, min(doc_id * 1000000 + i) AS canon
       |  FROM wins GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
       |dwins AS (
       |  SELECT DISTINCT w.doc_id, w.i
       |  FROM wins w JOIN rep r USING (gram)
       |  WHERE w.doc_id * 1000000 + w.i <> r.canon),
       |marked AS (
       |  SELECT doc_id, i,
       |         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 8
       |              THEN 0 ELSE 1 END AS newspan
       |  FROM dwins),
       |spans AS (
       |  SELECT doc_id, sid, min(i) AS s, max(i) + 7 AS e FROM
       |    (SELECT doc_id, i,
       |            sum(newspan) OVER (PARTITION BY doc_id ORDER BY i) AS sid
       |     FROM marked) z
       |  GROUP BY doc_id, sid),
       |nspans AS (SELECT doc_id, count(*)::BIGINT AS n_spans,
       |                  max(e - s + 1)::BIGINT AS max_span_len
       |           FROM spans GROUP BY doc_id),
       |dropped AS (
       |  SELECT DISTINCT doc_id, p
       |  FROM spans, LATERAL (SELECT unnest(generate_series(s, e)) AS p) y),
       |dsets AS (SELECT doc_id, list(p) AS drops FROM dropped GROUP BY doc_id),
       |cleaned AS (
       |  SELECT t.doc_id,
       |    n::BIGINT AS n_tokens,
       |    coalesce(len(drops), 0)::BIGINT AS n_dropped,
       |    coalesce(ns.n_spans, 0)::BIGINT AS n_spans,
       |    coalesce(ns.max_span_len, 0)::BIGINT AS max_span_len,
       |    CAST((1000000 * (n - coalesce(len(drops), 0))) // n AS BIGINT)
       |      AS kept_frac_micro,
       |    coalesce(array_to_string(list_transform(
       |      list_filter(generate_series(1, n),
       |                  p -> NOT list_contains(coalesce(drops, []), p)),
       |      p -> ts[p]), ' '), '') AS cleaned_text
       |  FROM toks t LEFT JOIN dsets USING (doc_id)
       |       LEFT JOIN nspans ns USING (doc_id))""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- exact dedup ----------------------------------------------------
    // Hash-groupBy on the full text: one shuffle keyed by text, min
    // doc_id survives. At 100 TB you'd group on h32(text)+length first
    // and only compare texts inside a bucket; with md5-grouping the
    // direct groupBy(text) is the same shuffle with a wider key.
    sql("dedup_exact",
      s"""WITH corpus AS (${D.withCopies("documents", Seq(10000 -> false))})
         |SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
         |       len(string_split(text, ' ')) AS n_tokens
         |FROM corpus GROUP BY text ORDER BY doc_id""".stripMargin) { (s, d) =>
      withCopies(docs(s, d), Seq(10000 -> false))
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"),
          size(tokens).cast("bigint").as("n_tokens"))
        .select(col("doc_id"), col("n_copies"), col("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // ---- per-document text statistics ----------------------------------
    sql("text_stats",
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS n_tokens,
        | len(list_distinct(string_split(text, ' '))) AS n_uniq,
        | floor(len(list_distinct(string_split(text, ' ')))::DOUBLE
        |       / len(string_split(text, ' ')) * 1000000 + 0.5) / 1000000 AS ttr,
        | floor(n_chars::DOUBLE / len(string_split(text, ' ')) * 1000000 + 0.5) / 1000000 AS chars_per_tok,
        | n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          size(tokens).cast("bigint").as("n_tokens"),
          size(array_distinct(tokens)).cast("bigint").as("n_uniq"),
          pr6(size(array_distinct(tokens)).cast("double") / size(tokens)).as("ttr"),
          pr6(col("n_chars").cast("double") / size(tokens)).as("chars_per_tok"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // ---- corpus token counting (per source) ----------------------------
    // explode + two-level agg: the explode is map-side (no shuffle of
    // its own), the groupBy is one shuffle on `source`; distinct-token
    // counts use Spark's two-phase distinct aggregate.
    sql("token_count",
      """SELECT source, count(DISTINCT doc_id) AS n_docs,
        | count(*) AS total_tokens,
        | count(DISTINCT tok) AS vocab,
        | floor(count(*)::DOUBLE / count(DISTINCT doc_id) * 1000000 + 0.5) / 1000000 AS toks_per_doc
        |FROM (SELECT source, doc_id, unnest(string_split(text, ' ')) AS tok
        |      FROM documents) t
        |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      docs(s, d)
        .select(col("source"), col("doc_id"), explode(tokens).as("tok"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).cast("bigint").as("total_tokens"),
          countDistinct(col("tok")).as("vocab"))
        .select(col("source"), col("n_docs"), col("total_tokens"), col("vocab"),
          pr6(col("total_tokens").cast("double") / col("n_docs")).as("toks_per_doc"))
        .orderBy(col("source"))
    },

    // ---- BPE-ish subword tokenization ----------------------------------
    // Greedy ≤4-char alpha chunks via regexp_extract_all — the regex
    // stand-in for a BPE merge table (both engines' regex is greedy,
    // non-overlapping, so the chunking is identical). Corpus-level
    // subword stats per lang.
    sql("token_bpe",
      """SELECT lang,
        | count(*) AS n_subtokens,
        | count(DISTINCT sub) AS n_uniq_sub,
        | floor(sum(length(sub))::DOUBLE / count(*) * 1000000 + 0.5) / 1000000 AS mean_len
        |FROM (SELECT lang, unnest(regexp_extract_all(text, '[a-z]{1,4}')) AS sub
        |      FROM documents) t
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      docs(s, d)
        .select(col("lang"),
          explode(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")).as("sub"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_subtokens"),
          countDistinct(col("sub")).as("n_uniq_sub"),
          pr6(sum(length(col("sub"))).cast("double") / count(lit(1))).as("mean_len"))
        .orderBy(col("lang"))
    },

    // ---- text normalization / stopword removal -------------------------
    sql("text_clean", {
      val sw = D.stopwords
      s"""SELECT doc_id,
         | array_to_string(list_filter(string_split(lower(text), ' '),
         |                             t -> NOT list_contains($sw, t)), ' ') AS clean,
         | len(list_filter(string_split(lower(text), ' '),
         |                 t -> NOT list_contains($sw, t))) AS n_kept
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val sw = array(enStopwords.map(lit): _*)
      val kept = filter(split(lower(col("text")), " "), t => !array_contains(sw, t))
      docs(s, d)
        .select(col("doc_id"),
          array_join(kept, " ").as("clean"),
          size(kept).cast("bigint").as("n_kept"))
        .orderBy(col("doc_id"))
    },

    // ---- language ID (marker-token heuristic) --------------------------
    // Hits counted with filter+contains (occurrence count, not set
    // intersection) so Spark and DuckDB agree on duplicated tokens.
    sql("lang_id", {
      val scores = langProfiles.map { case (l, ws) =>
        val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(string_split(text, ' '), t -> list_contains($arr, t))) AS hits_$l"
      }.mkString(",\n ")
      val best = langProfiles.map(_._1).sortBy(identity).reverse
        .foldLeft("'und'") { case (acc, l) =>
          s"CASE WHEN hits_$l > 0 AND hits_$l >= greatest(hits_en, hits_es, hits_de, hits_fr) THEN '$l' ELSE $acc END"
        }
      s"""SELECT doc_id, lang, hits_en, hits_es, hits_de, hits_fr,
         | $best AS predicted
         |FROM (SELECT doc_id, lang, $scores FROM documents) t
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val hits = langProfiles.map { case (l, ws) =>
        val arr = array(ws.map(lit): _*)
        size(filter(tokens, t => array_contains(arr, t))).cast("bigint").as(s"hits_$l")
      }
      // Same fold as the oracle: later (alphabetically-earlier) langs
      // win ties because they overwrite when >= max.
      val best = langProfiles.map(_._1).sortBy(identity).reverse
        .foldLeft(lit("und")) { case (acc, l) =>
          when(col(s"hits_$l") > 0 &&
            col(s"hits_$l") >= greatest(col("hits_en"), col("hits_es"), col("hits_de"), col("hits_fr")),
            lit(l)).otherwise(acc)
        }
      docs(s, d)
        .select(Seq(col("doc_id"), col("lang")) ++ hits: _*)
        .withColumn("predicted", best)
        .orderBy(col("doc_id"))
    },

    // ---- quality scoring ------------------------------------------------
    sql("quality_score", {
      val sw = D.stopwords
      s"""SELECT doc_id,
         | n_tokens,
         | floor(uniq_ratio * 1000000 + 0.5) / 1000000 AS uniq_ratio,
         | floor(stop_ratio * 1000000 + 0.5) / 1000000 AS stop_ratio,
         | CAST(floor((0.5 * uniq_ratio
         |       + 0.3 * least(stop_ratio * 5.0, 1.0)
         |       + 0.2 * least(n_tokens::DOUBLE / 60.0, 1.0)) * 1000000) AS BIGINT) AS quality_micro
         |FROM (
         |  SELECT doc_id,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    len(list_distinct(string_split(text, ' ')))::DOUBLE
         |      / len(string_split(text, ' ')) AS uniq_ratio,
         |    len(list_filter(string_split(text, ' '), t -> list_contains($sw, t)))::DOUBLE
         |      / len(string_split(text, ' ')) AS stop_ratio
         |  FROM documents) t
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val sw = array(enStopwords.map(lit): _*)
      docs(s, d)
        .select(col("doc_id"),
          size(tokens).cast("bigint").as("n_tokens"),
          (size(array_distinct(tokens)).cast("double") / size(tokens)).as("uniq_ratio"),
          (size(filter(tokens, t => array_contains(sw, t))).cast("double") / size(tokens))
            .as("stop_ratio"))
        .select(col("doc_id"), col("n_tokens"),
          pr6(col("uniq_ratio")).as("uniq_ratio_r"),
          pr6(col("stop_ratio")).as("stop_ratio_r"),
          // floor to integer micro-units: identical doubles floor
          // identically on both engines — no rounding-mode boundary.
          floor((lit(0.5) * col("uniq_ratio")
            + lit(0.3) * least(col("stop_ratio") * 5.0, lit(1.0))
            + lit(0.2) * least(col("n_tokens").cast("double") / 60.0, lit(1.0))) * 1000000)
            .cast("bigint").as("quality_micro"))
        .withColumnRenamed("uniq_ratio_r", "uniq_ratio")
        .withColumnRenamed("stop_ratio_r", "stop_ratio")
        .orderBy(col("doc_id"))
    },

    // ---- span-level dedup (repeated cross-doc n-grams) -----------------
    // Lee et al. 2021 ("Deduplicating Training Data Makes Language
    // Models Better") dedups at SUBSTRING granularity with a suffix
    // array over the concatenated corpus; this is the Spark-shaped
    // approximation at 8-gram granularity: a window position is a
    // repeated span iff its 8-gram occurs in ≥ 2 distinct docs.
    // Catches partial overlaps (shared boilerplate paragraphs, quoted
    // passages) that whole-doc Jaccard (dedup_ngram/dedup_near) and
    // exact line dedup both miss. Exact integer micro-unit fraction.
    // 100 TB shape: token-level window explode → one gram-keyed
    // count-distinct aggregate (map-side combined) → join-back on the
    // gram key → doc-keyed aggregate; gram keys could be xxhash64-ed
    // to 8 bytes at web scale (kept as text here so the oracle is
    // byte-identical).
    sql("span_dedup",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS gram
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 7)) AS i) x
        |  WHERE len(ts) >= 8),
        |rep AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
        |scored AS (
        |  SELECT g.doc_id, CASE WHEN r.gram IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM g LEFT JOIN rep r USING (gram))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(hit) AS BIGINT) AS n_rep_spans,
        |  CAST((1000000 * sum(hit)) // count(*) AS BIGINT) AS span_frac_micro,
        |  (1000000 * sum(hit)) // count(*) > 500000 AS flagged
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ts = tokens
      val grams = docs(s, d)
        .filter(size(ts) >= 8)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(ts) - 7),
            i => array_join(slice(ts, i, lit(8)), " "))).as("gram"))
      val rep = grams.groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1)
        .select(col("gram"))
      grams.join(rep.withColumn("hit", lit(1L)), Seq("gram"), "left")
        .select(col("doc_id"), coalesce(col("hit"), lit(0L)).as("hit"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"), sum(col("hit")).as("n_rep_spans"))
        .select(col("doc_id"), col("n_windows"), col("n_rep_spans"),
          expr("(1000000 * n_rep_spans) div n_windows").as("span_frac_micro"),
          (expr("(1000000 * n_rep_spans) div n_windows") > 500000).as("flagged"))
        .orderBy(col("doc_id"))
    },

    // ---- span-level dedup APPLY (cleaned corpus) -----------------------
    // Emits the corpus with every non-canonical repeated span stripped
    // (see spanDedupClean Scaladoc for the full design + 100 TB shape).
    // Cleaned text hashes must agree byte-for-byte with the oracle's
    // list_filter/list_transform rebuild, so kept-position filtering is
    // identical on both sides.
    sql("span_dedup_apply",
      s"""WITH ${spanCleanSql("documents")}
         |SELECT doc_id, n_tokens, n_dropped, n_spans, max_span_len,
         |       kept_frac_micro, cleaned_text
         |FROM cleaned ORDER BY doc_id""".stripMargin) { (s, d) =>
      spanDedupClean(docs(s, d)).orderBy(col("doc_id"))
    },

    // ---- span-level dedup residual proof -------------------------------
    // The correctness claim behind span_dedup_apply, stated as data:
    // recompute the cross-doc repeated-8-gram set on the CLEANED
    // corpus. Canonical occurrences survive in exactly one doc, so a
    // residual repeat can only arise when stripping a middle span
    // splices the flanking tokens into a new gram that happens to
    // collide across docs — rare, and reported honestly rather than
    // hidden (`n_rep_after` vs `n_rep_before`, plus the token totals
    // the edit removed). One row; both engines run the identical
    // chain, clean → re-window → re-aggregate.
    sql("span_dedup_residual",
      s"""WITH ${spanCleanSql("documents")},
         |c_toks AS (SELECT doc_id, string_split(cleaned_text, ' ') AS ts,
         |                  len(string_split(cleaned_text, ' ')) AS n
         |           FROM cleaned),
         |c_wins AS (
         |  SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS gram
         |  FROM c_toks, LATERAL (SELECT unnest(generate_series(1, n - 7)) AS i) x
         |  WHERE n >= 8),
         |c_rep AS (SELECT gram FROM c_wins GROUP BY gram
         |          HAVING count(DISTINCT doc_id) > 1)
         |SELECT (SELECT count(*) FROM rep)::BIGINT AS n_rep_before,
         |  (SELECT count(*) FROM c_rep)::BIGINT AS n_rep_after,
         |  (SELECT sum(n_tokens) FROM cleaned)::BIGINT AS tokens_before,
         |  (SELECT sum(n_tokens - n_dropped) FROM cleaned)::BIGINT AS tokens_after
         |""".stripMargin) { (s, d) =>
      // cleaned feeds the repAfter re-window AND the totals aggregate —
      // cached so the full clean pipeline runs once
      val (cleanedRaw, rep) = spanDedupCleanParts(docs(s, d))
      val cleaned = cleanedRaw.cache()
      // n_rep_before = |rep|: the clean's OWN repeated-gram set (its
      // window explode is already cached inside spanDedupCleanParts),
      // equal by construction to spanRepGramCount over the raw corpus
      // — which previously re-exploded and re-aggregated every window
      // a second time per run (r22, guide §1.2).
      val repBefore = rep.agg(count(lit(1)).cast("bigint").as("n_rep_before"))
      val repAfter = spanRepGramCount(cleaned, "cleaned_text", "n_rep_after")
      val totals = cleaned.agg(
        sum(col("n_tokens")).cast("bigint").as("tokens_before"),
        sum(col("n_tokens") - col("n_dropped")).cast("bigint").as("tokens_after"))
      repBefore.crossJoin(repAfter).crossJoin(totals)
    },

    // ---- Gopher quality-rule filter ------------------------------------
    // The named composite rule-set stage (Rae et al. 2021, "Scaling
    // Language Models: ... Gopher", Table A1): word-count bounds, mean
    // word length bounds, alphabetic-word ratio, stopword presence —
    // applied in a fixed order, emitting keep + the FIRST failed rule
    // (what a pipeline logs for filter attribution). Ratios are exact
    // integer micro-units (scaled floor division) for hash parity.
    // Pure projection per doc — no explode, no shuffle, codegen
    // end-to-end; the only exchange is the output sort.
    sql("gopher_filter", {
      val reason =
        s"""CASE WHEN n_tokens NOT BETWEEN ${GopherWords._1} AND ${GopherWords._2} THEN 'word_count'
           |       WHEN (1000000 * sum_len) // n_tokens NOT BETWEEN ${GopherMeanLenMicro._1} AND ${GopherMeanLenMicro._2}
           |         THEN 'mean_word_len'
           |       WHEN (1000000 * n_alpha) // n_tokens < $GopherAlphaMicro THEN 'alpha_ratio'
           |       WHEN n_stop < $GopherMinStop THEN 'stopwords'
           |       ELSE 'ok' END""".stripMargin
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    ${D.gopherMetrics("ts")}
         |  FROM t)
         |SELECT doc_id, n_tokens,
         |  CAST((1000000 * sum_len) // n_tokens AS BIGINT) AS mean_len_micro,
         |  CAST((1000000 * n_alpha) // n_tokens AS BIGINT) AS alpha_frac_micro,
         |  n_stop AS n_stopwords,
         |  $reason AS reason,
         |  ($reason) = 'ok' AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val m = docs(s, d).select(col("doc_id") +: gopherMetrics: _*)
      val reason = when(!col("n_tokens").between(GopherWords._1, GopherWords._2), "word_count")
        .when(!expr("(1000000 * sum_len) div n_tokens")
          .between(GopherMeanLenMicro._1, GopherMeanLenMicro._2), "mean_word_len")
        .when(expr("(1000000 * n_alpha) div n_tokens") < GopherAlphaMicro, "alpha_ratio")
        .when(col("n_stop") < GopherMinStop, "stopwords")
        .otherwise("ok")
      m.select(col("doc_id"), col("n_tokens"),
        expr("(1000000 * sum_len) div n_tokens").as("mean_len_micro"),
        expr("(1000000 * n_alpha) div n_tokens").as("alpha_frac_micro"),
        col("n_stop").as("n_stopwords"),
        reason.as("reason"),
        (reason === "ok").as("keep"))
        .orderBy(col("doc_id"))
    },

    // ---- DSIR-style importance weighting (target-domain selection) -----
    // Data Selection via Importance Resampling (Xie et al. 2023) ranks
    // raw docs by how target-like their token distribution is:
    // weight(x) ∝ Π p_target(w)/p_raw(w). Integer-exact engine twin:
    // per-token Laplace-smoothed frequency RATIO in nano-units
    // (HUGEINT/decimal(38,0) cross-multiplication, floor division),
    // doc weight = mean token ratio — bit-identical across engines.
    // Target = the fixture's src0 slice; raw = the whole corpus.
    // 100 TB shape: two term-keyed count aggregates (target side is a
    // domain sample, tiny), a join-back on the term key, a 1-row
    // totals broadcast, one doc-keyed aggregate — the tfidf topology.
    sql("importance_weights",
      """WITH tok AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |raw AS (SELECT w, count(*) AS cr FROM tok GROUP BY 1),
        |tgt AS (SELECT w, count(*) AS ct FROM tok WHERE source = 'src0' GROUP BY 1),
        |tot AS (SELECT
        |  (SELECT count(*) FROM tok WHERE source = 'src0') AS nt,
        |  (SELECT count(*) FROM tok) AS nr,
        |  (SELECT count(DISTINCT w) FROM tok) AS v),
        |scored AS (
        |  SELECT tok.doc_id,
        |    CAST((1000000000::HUGEINT * (COALESCE(tgt.ct, 0) + 1) * (tot.nr + tot.v))
        |      // ((raw.cr + 1) * (tot.nt + tot.v)) AS BIGINT) AS rn
        |  FROM tok JOIN raw USING (w) LEFT JOIN tgt USING (w) CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(rn) // count(*) AS BIGINT) AS weight_nanos
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = docs(s, d).select(col("doc_id"), col("source"), explode(tokens).as("w"))
      val raw = tok.groupBy(col("w")).agg(count(lit(1)).as("cr"))
      val tgt = tok.filter(col("source") === "src0")
        .groupBy(col("w")).agg(count(lit(1)).as("ct"))
      val tot = tok.agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("nt"),
        count(lit(1)).as("nr"),
        countDistinct(col("w")).as("v"))
      tok.join(raw, Seq("w"))
        .join(tgt, Seq("w"), "left")
        .crossJoin(broadcast(tot)) // 1-row totals — safe at any SF
        .select(col("doc_id"),
          expr("""(cast(1000000000 as decimal(38,0)) * (coalesce(ct, 0) + 1) * (nr + v))
                  div ((cr + 1) * (nt + v))""").as("rn"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          expr("sum(rn) div count(1)").as("weight_nanos"))
        .orderBy(col("doc_id"))
    },

    // ---- LM fluency scoring (perplexity-class quality signal) ----------
    // CCNet-style LM filtering (Wenzek et al. 2020) ranks documents by
    // how predictable their text is under a language model trained on
    // the corpus itself. This is the integer-exact engine twin: a
    // Laplace-smoothed bigram model P(w2|w1) = (C(w1,w2)+1)/(C(w1·)+V)
    // trained on the full corpus, scored per doc as the MEAN bigram
    // probability in nano-units. All arithmetic is integer-exact —
    // decimal(38,0)/HUGEINT cross-multiply, floor division, BIGINT
    // sums (overflow-safe at web-scale counts) — so Spark and DuckDB agree
    // bit-for-bit — the log-space variant would hinge on libm ulp
    // parity across engines, which the hash gate cannot tolerate.
    // 100 TB shape: two map-side-combinable token-level aggregates
    // (context and pair counts), a shuffle join back on the term keys
    // (the tfidf topology — degrades to shuffle-hash on web vocab),
    // a 1-row vocab broadcast, and a final doc-keyed aggregate.
    sql("lm_fluency",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |bi AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) g),
        |ctx AS (SELECT w1, count(*) AS cc FROM bi GROUP BY 1),
        |pair AS (SELECT w1, w2, count(*) AS pc FROM bi GROUP BY 1, 2),
        |v AS (SELECT count(DISTINCT w) AS vv
        |      FROM (SELECT unnest(ts) AS w FROM toks) u)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |  CAST(sum((1000000000::HUGEINT * (pair.pc + 1)) // (ctx.cc + v.vv)) // count(*)
        |    AS BIGINT) AS fluency_nanos
        |FROM bi b JOIN pair USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v
        |GROUP BY b.doc_id
        |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      val toks = docs(s, d).select(col("doc_id"), tokens.as("ts"))
      val bi = toks.select(col("doc_id"),
        explode(zip_with(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val ctx = bi.groupBy(col("w1")).agg(count(lit(1)).as("cc"))
      val pair = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pc"))
      val vocab = toks.select(explode(col("ts")).as("w"))
        .agg(countDistinct(col("w")).as("vv"))
      bi.join(pair, Seq("w1", "w2"))
        .join(ctx, Seq("w1"))
        .crossJoin(broadcast(vocab)) // 1-row aggregate — safe at any SF
        // decimal(38,0) cross-multiply, like importance_weights: the
        // BIGINT product 1e9·(pc+1) overflows once a bigram count
        // passes ~9.2e9 — reachable at web scale ("the the" at 100 TB
        // is ~1e11). IntegralDivide then narrows back to BIGINT nanos
        // exactly (the quotient is ≤ 1e9 by construction).
        .select(col("doc_id"),
          expr("(cast(1000000000 as decimal(38,0)) * (pc + 1)) div (cc + vv)").as("p"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(p) div count(1)").as("fluency_nanos"))
        .orderBy(col("doc_id"))
    },

    // ---- document fingerprinting (shingle-hash winnowing) --------------
    // fp_min/fp_max are the winnowed extremes of the 3-shingle hash
    // set; fp_text is a whole-document content hash. Identical docs →
    // identical fingerprints; near-identical docs → equal fp_min with
    // high probability (the basis of fingerprint clustering).
    sql("text_fingerprint",
      s"""SELECT doc_id,
         | ${D.h32("text")} AS fp_text,
         | list_min(list_transform(${D.shingles}, x -> ${D.h32("x")})) AS fp_min,
         | list_max(list_transform(${D.shingles}, x -> ${D.h32("x")})) AS fp_max,
         | len(${D.shingles}) AS n_shingles
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val sh = shingles3(tokens)
      docs(s, d)
        .select(col("doc_id"),
          h32(col("text")).as("fp_text"),
          array_min(transform(sh, x => h32(x))).as("fp_min"),
          array_max(transform(sh, x => h32(x))).as("fp_max"),
          size(sh).cast("bigint").as("n_shingles"))
        .orderBy(col("doc_id"))
    },

    // ---- near-dup dedup: MinHash + LSH banding -------------------------
    // 12 min-hash permutations → 4 bands × 3 rows; candidate pairs only
    // where a full band collides (band-key self-join — never
    // all-pairs), then Jaccard-verified at 0.5. The planted truncated
    // copies are exactly what it must find.
    //
    // Cost shape (this is the 100 TB-relevant part): ONE md5 per
    // distinct shingle, then the 12 permutations are integer universal
    // hashes (h·A_s + B_s mod P) over that base hash — 12 multiplies,
    // not 12 cryptographic digests. The shingle/signature frame is
    // cached so the band self-join and the verify join read it instead
    // of recomputing the minhash pipeline per branch. Bands explode ×4,
    // the join is keyed on (band, key) — bounded buckets, skew-safe.
    sql("dedup_near",
      s"""WITH corpus AS (${D.withCopies("documents", Seq(20000 -> true))}),
         |hs AS (SELECT doc_id,
         |  ${D.hs} AS hs
         |  FROM corpus),
         |bands AS (${D.bands("hs")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
         |  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bkey = b2.bkey
         |  WHERE a.doc_id < b2.doc_id)
         |SELECT doc_a, doc_b,
         |  floor(${D.jaccard("sa.hs", "sb.hs")} * 1000000 + 0.5) / 1000000 AS jaccard
         |FROM cand
         |JOIN hs sa ON sa.doc_id = doc_a
         |JOIN hs sb ON sb.doc_id = doc_b
         |WHERE ${D.jaccard("sa.hs", "sb.hs")} >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // Jaccard is computed in hash space (distinct md5-based shingle
      // hashes): same value as string-shingle Jaccard absent 32-bit
      // collisions, identical on both engines by construction, and the
      // set ops compare longs, not ~20-char strings.
      val hsDf = shingleHashes(withCopies(docs(s, d), Seq(20000 -> true)))
        .cache() // read by band self-join (×2) and verify join (×2)
      hsDf.count() // eager cache fill: both self-join branches would otherwise race and double-compute
      val bands = minhashBands(hsDf)
      val cand = bands.as("x").join(bands.as("y"),
          col("x.b") === col("y.b") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val jac = jaccard(col("sa.hs"), col("sb.hs"))
      cand
        .join(hsDf.as("sa"), col("sa.doc_id") === col("doc_a"))
        .join(hsDf.as("sb"), col("sb.doc_id") === col("doc_b"))
        .filter(jac >= 0.5)
        .select(col("doc_a"), col("doc_b"), pr6(jac).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- near-dup dedup: SimHash ---------------------------------------
    // 32-bit SimHash from per-token md5 hashes: bit b of the signature
    // is the sign of sum(±1 over tokens) at that bit. Token hashes
    // computed once, then folded per bit — O(32·n) cheap integer ops
    // inside whole-stage codegen.
    sql("dedup_simhash", {
      val th = s"list_transform(string_split(text, ' '), t -> ${D.h32("t")})"
      s"""SELECT doc_id,
         | list_sum(list_transform(range(0, 32), b ->
         |   CASE WHEN list_sum(list_transform(th, h -> ((h >> b) & 1) * 2 - 1)) > 0
         |        THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS simhash,
         | len(th) AS n_tokens
         |FROM (SELECT doc_id, $th AS th FROM documents) t
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val th = transform(tokens, t => h32(t))
      docs(s, d)
        .select(col("doc_id"), th.as("th"))
        .select(col("doc_id"),
          expr("""aggregate(
                 |  transform(sequence(0, 31), b ->
                 |    CASE WHEN aggregate(transform(th, h -> (shiftright(h, cast(b AS INT)) & 1L) * 2L - 1L),
                 |                        0L, (acc, v) -> acc + v) > 0
                 |         THEN shiftleft(1L, cast(b AS INT)) ELSE 0L END),
                 |  0L, (acc, v) -> acc + v)""".stripMargin).as("simhash"),
          size(col("th")).cast("bigint").as("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // ---- TF-IDF top terms per document ---------------------------------
    // Classic two-pass shape: per-(doc, term) TF, per-term DF (both
    // map-side-combinable aggregates), join the term→DF table back
    // (AQE chooses the join strategy), score, window top-3. The idf here is rational (N/df scaled
    // to micro-units) instead of log(N/df): same ordering, and every
    // step is exact integer arithmetic both engines reproduce — log()
    // would expose libm last-ulp differences for zero analytic gain.
    sql("tfidf_topk",
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok,
        |         tf.tf * CAST(floor(n.n_docs * 1000000.0 / df.df) AS BIGINT) AS score
        |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
        |SELECT doc_id, tok, score, rnk FROM (
        |  SELECT doc_id, tok, score,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
      val docsDf = docs(s, d)
      val tf = docsDf
        .select(col("doc_id"), explode(tokens).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      // N as a broadcast 1-row aggregate cross-joined in — no eager
      // driver-side count(), so the whole pipeline stays one lazy plan
      // (at 100 TB an extra full scan per invocation is a real cost)
      val nDocsDf = docsDf.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
      // NO broadcast hint on the term→DF table: at web-corpus vocabulary
      // (10⁹ terms) a forced broadcast OOMs the driver. AQE still picks
      // a broadcast join at fixture scale (dfreq is tiny); at scale it
      // degrades gracefully to a shuffle join on `tok`.
      tf.join(dfreq, "tok")
        .crossJoin(broadcast(nDocsDf))
        .select(col("doc_id"), col("tok"),
          (col("tf") * floor(col("n_docs") * lit(1000000.0) / col("df")).cast("bigint")).as("score"))
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("tok"), col("score"), col("rnk"))
        .orderBy(col("doc_id"), col("rnk"))
    },

    // ---- corpus-level source similarity via MinHash signatures ---------
    // One 12-value signature per SOURCE (min of each permutation over
    // every token hash in the source's documents), then pairwise
    // signature agreement estimates token-set Jaccard between sources.
    // The signature reduce is a plain min-aggregate — at 100 TB this is
    // one map-side-combinable pass, and the pair comparison touches
    // k sources, not k documents.
    sql("source_similarity", {
      val th = D.h32("tok")
      val sigCols = Text.minhashMix.zipWithIndex.map { case ((a, b), i) =>
        s"min((h * $a + $b) % ${Text.minhashP}) AS m$i"
      }.mkString(",\n ")
      val matches = Text.minhashMix.indices
        .map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH th AS (SELECT source, $th AS h
         |            FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
         |                  FROM documents) t),
         |sig AS (SELECT source,
         | $sigCols
         | FROM th GROUP BY source)
         |SELECT a.source AS src_a, b.source AS src_b,
         |       floor(($matches) / 12.0 * 1000000 + 0.5) / 1000000 AS est_jaccard
         |FROM sig a JOIN sig b ON a.source < b.source
         |ORDER BY src_a, src_b""".stripMargin
    }) { (s, d) =>
      val th = docs(s, d)
        .select(col("source"), explode(tokens).as("tok"))
        .select(col("source"), h32(col("tok")).as("h"))
      val sigExprs = Text.minhashMix.zipWithIndex.map { case ((a, b), i) =>
        min((col("h") * a + b) % Text.minhashP).as(s"m$i")
      }
      val sig = th.groupBy(col("source")).agg(sigExprs.head, sigExprs.tail: _*)
      val matches = Text.minhashMix.indices
        .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0))
        .reduce(_ + _)
      sig.as("a").join(sig.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          pr6(matches / 12.0).as("est_jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // ---- near-dup dedup: blocked n-gram (3-shingle) Jaccard ------------
    // The corpus vocabulary is tiny (31 tokens), so token-SET overlap
    // is meaningless — 3-gram shingles are the distinctive unit.
    // Candidate blocking on the first shingle (the planted truncated
    // copy always shares it with its original) keeps the self-join
    // keyed — at 100 TB the block key is the unit of shuffle and a
    // skewed block would get salted.
    sql("dedup_ngram",
      s"""WITH corpus AS (${D.withCopies("documents", Seq(20000 -> true))}),
         |t AS (SELECT doc_id,
         |             ${D.hs} AS sh,
         |             array_to_string((${D.toks})[1:3], ' ') AS blk
         |      FROM corpus)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  floor(${D.jaccard("a.sh", "b.sh")} * 1000000 + 0.5) / 1000000 AS jaccard
         |FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
         |WHERE ${D.jaccard("a.sh", "b.sh")} >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // hash-space Jaccard, same rationale as dedup_near
      val t = withCopies(docs(s, d), Seq(20000 -> true))
        .select(col("doc_id"), hsCol(col("text")).as("sh"),
          array_join(slice(tokens, 1, 3), " ").as("blk"))
        .cache() // both sides of the block self-join read this
      t.count() // eager cache fill (see dedup_near)
      val jac = jaccard(col("a.sh"), col("b.sh"))
      t.as("a").join(t.as("b"),
          col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
        .filter(jac >= 0.6)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          pr6(jac).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- containment dedup (near-superset / quotation detection) -------
    // Jaccard misses the asymmetric case every crawl has: doc A is a
    // half-length EXCERPT of doc B (a quote, a syndicated lead
    // paragraph, a truncated mirror) — |A∩B|/|A∪B| ≈ 0.5 sails under
    // any near-dup bar while containment |S(A)∩S(B)|/|S(A)| ≈ 1. The
    // plants make the contrast concrete: first-half excerpts at
    // +70000, invisible to dedup_ngram's 0.6 Jaccard, caught here at
    // containment ≥ 0.9.
    // Candidate generation is PREFIX FILTERING (the posting-list trick
    // of every set-similarity-join paper): only shingles with document
    // frequency ≤ 5 generate candidate pairs — high-df shingles are
    // stopword-like and pair everything with everything, while a
    // near-superset pair almost surely shares a rare shingle (497/500
    // plants do on this tiny-vocab fixture; the honest miss rate of
    // the filter is spec-pinned). At 100 TB the df aggregate is one
    // keyed pass and the candidate join is keyed on the rare shingle —
    // bounded posting lists, never all-pairs. Exact micro-unit
    // containment; best match per doc, ties to the lower id.
    sql("dedup_containment",
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 70000,
         |         array_to_string((${D.toks})[1:greatest(8, len(${D.toks}) // 2)], ' ')
         |  FROM documents),
         |t AS (SELECT doc_id,
         |        ${D.hs} AS sh
         |      FROM corpus WHERE len(${D.toks}) >= 3),
         |shx AS (SELECT doc_id, unnest(sh) AS s FROM t),
         |rare AS (SELECT s FROM shx GROUP BY s HAVING count(*) <= 5),
         |rsh AS (SELECT doc_id, s FROM shx WHERE s IN (SELECT s FROM rare)),
         |cand AS (SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
         |         FROM rsh a JOIN rsh b ON a.s = b.s AND a.doc_id <> b.doc_id),
         |scored AS (
         |  SELECT c.x, c.y,
         |         (1000000 * len(list_intersect(ta.sh, tb.sh))) // len(ta.sh) AS cm
         |  FROM cand c JOIN t ta ON ta.doc_id = c.x JOIN t tb ON tb.doc_id = c.y)
         |SELECT doc_id, within_id, containment_micro FROM (
         |  SELECT x AS doc_id, y AS within_id, cm AS containment_micro,
         |         row_number() OVER (PARTITION BY x ORDER BY cm DESC, y) AS rn
         |  FROM scored WHERE cm >= 900000) q
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val excerpt = base.select((col("doc_id") + 70000).as("doc_id"),
        array_join(slice(tokens, lit(1),
          greatest(lit(8), expr("size(split(text, ' ')) div 2").cast("int"))), " ")
          .as("text"))
      val corpus = base.unionByName(excerpt)
      // hashed shingle sets: both the posting explode and the verify
      // join read this — cached
      val t = corpus.filter(size(tokens) >= 3)
        .select(col("doc_id"), hsCol(col("text")).as("sh")).cache()
      val shx = t.select(col("doc_id"), explode(col("sh")).as("s"))
      val rare = shx.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 5).select(col("s"))
      val rsh = shx.join(rare, Seq("s"))
      val cand = rsh.as("a").join(rsh.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("x"), col("b.doc_id").as("y")).distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("containment_micro").desc, col("within_id"))
      cand
        .join(t.select(col("doc_id").as("x"), col("sh").as("sx")), "x")
        .join(t.select(col("doc_id").as("y"), col("sh").as("sy")), "y")
        .select(col("x").as("doc_id"), col("y").as("within_id"),
          expr("(1000000 * size(array_intersect(sx, sy))) div size(sx)")
            .as("containment_micro"))
        .filter(col("containment_micro") >= 900000)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("within_id"), col("containment_micro"))
        .orderBy(col("doc_id"))
    },

    // ---- deterministic stratified sampling (corpus mixing) -------------
    // The data-mixing step of a training pipeline: each source gets a
    // target retention rate, and a document is kept iff a seeded
    // portable hash of its id lands under the rate. No randomness, no
    // state, no shuffle — a map-side filter that re-runs to the byte
    // on any engine and any cluster, which is exactly what makes a
    // 100 TB mixing run reproducible and resumable.
    sql("sample_stratified", {
      val tiers = Text.sampleTiers
        .map { case (src, r) => s"('$src', $r)" }.mkString(", ")
      s"""SELECT d.doc_id, d.source
         |FROM documents d
         |JOIN (VALUES $tiers) r(source, rate_micro)
         |  ON d.source = r.source
         |WHERE ('0x' || substr(md5('samp:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      % 1000000 < r.rate_micro
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val rates = broadcast(Text.sampleTiers.toDF("r_source", "rate_micro"))
      docs(s, d)
        .join(rates, col("source") === col("r_source"))
        .filter(h32Seeded(lit("samp"), col("doc_id")) % 1000000 < col("rate_micro"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },

    // ---- fixed-budget uniform sample (exact n) -------------------------
    // sample_stratified keeps an EXPECTED fraction; eval-set carving
    // needs EXACTLY n docs, reproducibly. Rank by a seeded portable
    // hash (uniform, feature-independent), tie-break on doc_id, take
    // the first 100: Spark plans ORDER BY + LIMIT as
    // TakeOrderedAndProject — per-partition heaps of size n, no global
    // sort — so the same code carves an exact-100 eval set out of
    // 100 TB with one pass and an n-row driver merge.
    sql("sample_fixed",
      s"""SELECT doc_id, source
         |FROM (SELECT doc_id, source
         |      FROM documents
         |      ORDER BY ${D.h32s("'pick'", "CAST(doc_id AS VARCHAR)")}, doc_id
         |      LIMIT 100) t
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      docs(s, d)
        .select(col("doc_id"), col("source"),
          h32Seeded(lit("pick"), col("doc_id")).as("pick"))
        .orderBy(col("pick"), col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },

    // ---- hash-based train/val/test split assignment --------------------
    // Same portable-hash idea pointed at dataset splitting: bucket =
    // seeded-hash(doc_id) mod 100 → 80/10/10. Assignment is a pure
    // projection (joins/shuffles: zero), stable across reruns and
    // engines, and stratification-safe because the hash is independent
    // of every document feature.
    sql("split_assign",
      """SELECT doc_id,
        | CASE WHEN bucket < 80 THEN 'train'
        |      WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        | bucket
        |FROM (SELECT doc_id,
        |        ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          (h32Seeded(lit("split"), col("doc_id")) % 100).as("bucket"))
        .select(col("doc_id"),
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test").as("split"),
          col("bucket"))
        .orderBy(col("doc_id"))
    },

    // ---- PII scrubbing --------------------------------------------------
    // Redaction is a pure projection (regexp_replace chains inside
    // whole-stage codegen — zero shuffles, linear scan), which is why
    // it belongs at ingest: scrubbing 100 TB costs one pass. The
    // corpus is synthetic, so PII is PLANTED deterministically (an
    // email for doc_id % 7 == 0, a phone for % 11 == 0 — identical
    // construction in the oracle); the patterns are RE2-and-Java-
    // compatible (no lookaround), so both engines redact identically.
    // `still_dirty` must come back false for every row — the oracle
    // pins that, so a regex that stops matching fails the gate.
    sql("pii_scrub", {
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |         text ||
         |         CASE WHEN doc_id % 7 = 0
         |              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |              ELSE '' END ||
         |         CASE WHEN doc_id % 11 = 0
         |              THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |              ELSE '' END AS text
         |  FROM documents),
         |scrubbed AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(text, '$PiiEmail')) AS n_emails,
         |    len(regexp_extract_all(text, '$PiiPhone')) AS n_phones,
         |    regexp_replace(regexp_replace(text, '$PiiEmail', '<EMAIL>', 'g'),
         |                   '$PiiPhone', '<PHONE>', 'g') AS clean
         |  FROM corpus)
         |SELECT doc_id, n_emails, n_phones, length(clean) AS clean_len,
         |       (len(regexp_extract_all(clean, '$PiiEmail'))
         |        + len(regexp_extract_all(clean, '$PiiPhone'))) > 0 AS still_dirty
         |FROM scrubbed ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val planted = concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(""),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(""))
      val clean = regexp_replace(
        regexp_replace(col("text"), PiiEmail, "<EMAIL>"), PiiPhone, "<PHONE>")
      docs(s, d)
        .select(col("doc_id"), planted.as("text"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(PiiEmail), lit(0))).cast("bigint").as("n_emails"),
          size(regexp_extract_all(col("text"), lit(PiiPhone), lit(0))).cast("bigint").as("n_phones"),
          clean.as("clean"))
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          length(col("clean")).cast("bigint").as("clean_len"),
          ((size(regexp_extract_all(col("clean"), lit(PiiEmail), lit(0))) +
            size(regexp_extract_all(col("clean"), lit(PiiPhone), lit(0)))) > 0).as("still_dirty"))
        .orderBy(col("doc_id"))
    },

    // ---- repetition filter (Gopher/C4-style) ---------------------------
    // Duplicate-token and duplicate-bigram fractions per document — the
    // classic low-quality-generation signal. Pure projection over the
    // token array (no explode, no shuffle): distinct-count arithmetic
    // inside codegen. Repetitive docs are PLANTED (doc_id % 13 == 0
    // gets its own first HALF appended — dup-bigram fraction lands
    // near 1/3 regardless of doc length, every plant clears the 0.2
    // threshold; corpus min length is 10 tokens, FIXTURES.md).
    sql("doc_repetition", {
      val toks = "string_split(text, ' ')"
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 0
         |         THEN text || ' ' || array_to_string(($toks)[1:len($toks)//2], ' ')
         |         ELSE text END AS text
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, $toks AS toks,
         |    list_transform(range(1, len($toks)),
         |                   i -> ($toks)[i] || ' ' || ($toks)[i + 1]) AS bigrams
         |  FROM corpus)
         |SELECT doc_id,
         |  floor((1.0 - len(list_distinct(toks))::DOUBLE / len(toks)) * 1000000 + 0.5) / 1000000 AS dup_tok_frac,
         |  floor((1.0 - len(list_distinct(bigrams))::DOUBLE / greatest(len(bigrams), 1)) * 1000000 + 0.5) / 1000000 AS dup_bigram_frac,
         |  (1.0 - len(list_distinct(bigrams))::DOUBLE / greatest(len(bigrams), 1)) > 0.2 AS repetitive
         |FROM t ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val planted = when(col("doc_id") % 13 === 0,
        concat(col("text"), lit(" "),
          array_join(slice(tokens, lit(1), (size(tokens) / 2).cast("int")), " ")))
        .otherwise(col("text"))
      // guard: sequence(1, 0) counts DOWN in Spark (1-token doc would
      // index element 0 and throw); DuckDB's range(1, 1) is empty
      val bigrams = when(size(tokens) >= 2,
        transform(sequence(lit(1), size(tokens) - 1),
          i => concat(element_at(tokens, i), lit(" "), element_at(tokens, i + 1))))
        .otherwise(array().cast("array<string>"))
      val dupTok = lit(1.0) - size(array_distinct(tokens)).cast("double") / size(tokens)
      val dupBi = lit(1.0) -
        size(array_distinct(bigrams)).cast("double") / greatest(size(bigrams), lit(1))
      docs(s, d)
        .select(col("doc_id"), planted.as("text"))
        .select(col("doc_id"),
          pr6(dupTok).as("dup_tok_frac"),
          pr6(dupBi).as("dup_bigram_frac"),
          (dupBi > 0.2).as("repetitive"))
        .orderBy(col("doc_id"))
    },

    // ---- incremental dedup: new batch vs existing corpus ---------------
    // The shape continuous ingest actually needs: dedup the NEW batch
    // against the already-deduped corpus without ever re-comparing
    // old×old. Exact dups drop via an anti-join on text; near-dups via
    // the same MinHash band join as dedup_near, but new-bands ⋈
    // OLD-bands only (in production the old side is a stored band
    // index the stream appends to — stream_embed_index is the vector
    // twin of that layout); within the batch, min doc_id per text
    // survives. Plants: every old doc re-arrives as an exact copy
    // (+30000) and a truncated near-copy (+40000); all must drop.
    sql("dedup_incremental", incrementalOracle) { (s, d) =>
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val old = base.filter(col("doc_id") < 250)
      val newBatch = incrementalNewBatch(base, old)
      val oldHs = shingleHashes(old).cache(); oldHs.count() // band + verify sides
      incrementalDedup(newBatch, old, oldHs, minhashBands(oldHs))
    },

    // ---- incremental dedup against the STORED band index ---------------
    // Same semantics and byte-identical output as dedup_incremental,
    // but the old side's MinHash work is never redone: the batch joins
    // against the persisted (hs, bands) index built once by
    // stagedBandIndex. Per-batch compute is O(batch) shingling + two
    // hash joins whose old side is a parquet SCAN — at 100 TB the
    // difference between "re-minhash the corpus every batch" and
    // "read the index" is the whole feasibility of continuous ingest
    // (SCALE.md measures the octave).
    sql("dedup_incremental_indexed", incrementalOracle) { (s, d) =>
      val idx = stagedBandIndex(s, d)
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val old = base.filter(col("doc_id") < 250)
      val oldHs = s.read.parquet(s"$idx/hs")
      // partition column `b` comes back as INT from directory names —
      // same type minhashBands produces, the join key lines up
      val oldBands = s.read.parquet(s"$idx/bands")
        .select(col("doc_id"), col("b"), col("bkey"))
      incrementalDedup(incrementalNewBatch(base, old), old, oldHs, oldBands)
    },

    // ---- benchmark decontamination -------------------------------------
    // Train/eval overlap detection by 5-gram collision — the
    // contamination check every training corpus needs before a model
    // claims an eval number. Grams are distinct per doc, the join is
    // hash-keyed on the gram, and the eval side is tiny by definition
    // → broadcast at scale; cost is one pass over the train corpus.
    // Plants: every eval doc leaks back into train verbatim (+50000);
    // each must surface with a large shared-gram count.
    sql("decontaminate", {
      val grams5 =
        s"list_distinct(list_transform(range(1, len(${D.toks}) - 3), " +
          s"i -> array_to_string((${D.toks})[i:i+4], ' ')))"
      s"""WITH eval_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
         |train_docs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
         |  UNION ALL ${D.copyAt(50000, "eval_docs")}),
         |eg AS (SELECT doc_id AS eval_id, unnest($grams5) AS gram FROM eval_docs),
         |tg AS (SELECT doc_id, unnest($grams5) AS gram FROM train_docs)
         |SELECT t.doc_id, count(DISTINCT t.gram) AS n_shared_grams,
         |       count(DISTINCT e.eval_id) AS n_eval_docs
         |FROM tg t JOIN eg e ON t.gram = e.gram
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
    }) { (s, d) =>
      val (evalDocs, trainDocs) = evalTrain(s, d)
      def grams(df: org.apache.spark.sql.DataFrame) = {
        val g = when(size(tokens) >= 5,
          array_distinct(transform(sequence(lit(1), size(tokens) - 4),
            i => array_join(slice(tokens, i, lit(5)), " "))))
          .otherwise(array().cast("array<string>"))
        df.select(col("doc_id"), explode(g).as("gram"))
      }
      grams(trainDocs)
        .join(broadcast(grams(evalDocs).select(col("gram"), col("doc_id").as("eval_id"))),
          Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gram")).as("n_shared_grams"),
          countDistinct(col("eval_id")).as("n_eval_docs"))
        .orderBy(col("doc_id"))
    },

    // ---- fuzzy decontamination (near-dup train-vs-eval) -----------------
    // `decontaminate` flags exact 5-gram collisions; this is the
    // complementary published method (Dodge et al. 2021's "documents
    // too similar to the benchmark"): MinHash-banded candidate pairs
    // between the TRAIN corpus and the (broadcast-small) EVAL set,
    // Jaccard-verified, reporting each train doc's best-matching eval
    // doc and the score in exact micro-units. Plants: every eval doc
    // re-enters train as an exact copy (+50000, jac = 1e6) and a
    // last-token truncation (+60000, jac < 1e6 but ≥ the 0.5 bar) —
    // both must surface against their own eval twin. Scale shape: the
    // eval side is 2% of the corpus and broadcast both times (bands +
    // hs); the train side streams through one band join — never a
    // train×eval gram blow-up, O(train) work per decontamination pass.
    sql("decontaminate_fuzzy",
      s"""WITH eval_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
         |train_docs AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
         |  UNION ALL ${D.copyAt(50000, "eval_docs")}
         |  UNION ALL ${D.copyAt(60000, "eval_docs", truncate = true)}),
         |ehs AS (SELECT doc_id, ${D.hs} AS hs FROM eval_docs),
         |ths AS (SELECT doc_id, ${D.hs} AS hs FROM train_docs),
         |eb AS (${D.bands("ehs")}),
         |tb AS (${D.bands("ths")}),
         |cand AS (
         |  SELECT DISTINCT t.doc_id AS tid, e.doc_id AS eid
         |  FROM tb t JOIN eb e ON t.b = e.b AND t.bkey = e.bkey),
         |jac AS (
         |  SELECT c.tid, c.eid,
         |         (len(list_intersect(th.hs, eh.hs)) * 1000000)
         |           // len(list_distinct(list_concat(th.hs, eh.hs))) AS jac_micro
         |  FROM cand c
         |  JOIN ths th ON th.doc_id = c.tid
         |  JOIN ehs eh ON eh.doc_id = c.eid)
         |SELECT tid AS doc_id, eid AS eval_id, jac_micro::BIGINT AS jac_micro
         |FROM (SELECT tid, eid, jac_micro,
         |             row_number() OVER (PARTITION BY tid
         |               ORDER BY jac_micro DESC, eid) AS rn
         |      FROM jac WHERE jac_micro >= 500000) x
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val (evalDocs, trainDocs0) = evalTrain(s, d)
      val trainDocs = trainDocs0.unionByName(copyAt(evalDocs, 60000, truncate = true))
      // both halves are read twice (band candidates + Jaccard verify):
      // cache so train-side shingling+MinHashing runs once per pass
      val ehs = shingleHashes(evalDocs).cache()
      val ths = shingleHashes(trainDocs).cache()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("tid")).orderBy(col("jac_micro").desc, col("eid"))
      fuzzyPairs(ths, ehs)
        .filter(col("jac_micro") >= 500000)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("tid").as("doc_id"), col("eid").as("eval_id"), col("jac_micro"))
        .orderBy(col("doc_id"))
    },

    // ---- BPE vocabulary induction (real merge training) -----------------
    // Sennrich et al. 2016: learn the first 5 byte-pair merges from the
    // corpus. Unlike token_bpe (which APPLIES a fixed chunking rule),
    // this TRAINS: each round counts adjacent symbol pairs over the
    // word-frequency table, merges the globally most frequent pair
    // (ties → lexicographic), and rewrites the symbol sequences.
    // Output = the learned merge table (rank, pair, weighted count) —
    // the artifact a tokenizer ships.
    //
    // Scale shape is the published fast-BPE topology: the corpus is
    // scanned ONCE to build (distinct word, frequency); every round
    // after that is one explode + keyed aggregate over the VOCABULARY
    // (≪ corpus — pair counts are frequency-weighted, so corpus size
    // only enters through the initial count). The per-round argmax is
    // a K-row tree-reduced aggregate collected driver-side to bake the
    // merge pairs into the next round's plan — the same small-collect
    // convergence-signature pattern as Pipeline.contractToLabels, not
    // a data collect. Since round 13 each counting round applies a
    // BATCH of provably-independent merges (bpeBatchSelect), so the
    // per-round costs amortize over several merges while the result
    // stays sequential-equal — which this key's sequential SQL oracle
    // re-proves on every driver gate. Merge application is a
    // symbol-boundary-safe string replace (leftmost, non-overlapping —
    // BPE's standard greedy application) running map-side over the
    // vocab.
    //
    // The oracle unrolls the same 5 rounds as CTE stages; both engines
    // scan replaced text left-to-right without rescanning replacements,
    // so "a a a" merges to "aa a" identically.
    sql("bpe_train",
      s"""WITH ${bpeOracleCtes(BpeRounds)}
         |${(0 until BpeRounds)
            .map(i => s"SELECT ${i + 1}::BIGINT AS rnk, lhs, rhs, cnt FROM m$i")
            .mkString("\n UNION ALL ")}
         |ORDER BY rnk""".stripMargin) { (s, d) =>
      import s.implicits._
      bpeLearnBatched(s, d)._1.toDF("rnk", "lhs", "rhs", "cnt").orderBy(col("rnk"))
    },

    // ---- BPE encoding (apply the trained merges) ------------------------
    // The consumer half of bpe_train: encode the corpus with the learned
    // merge table. Every distinct word already carries its final symbol
    // sequence after the 5 training rounds — encoding the corpus is ONE
    // broadcast-able join from exploded doc tokens to that vocab-sized
    // mapping (the standard trained-tokenizer shape: the merge artifact
    // is tiny, the corpus is the big side, and the encode pass is
    // embarrassingly parallel). Output per doc: token count, post-merge
    // subword count (the number a token-budget planner actually needs),
    // and the first token's encoding as a visible witness that a real
    // symbol sequence came back.
    sql("bpe_apply",
      s"""WITH ${bpeOracleCtes(BpeRounds)},
         |tokd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |agg AS (SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
         |               sum(len(string_split(r.rep, ' ')))::BIGINT AS n_subwords
         |        FROM tokd t JOIN r$BpeRounds r ON t.token = r.token
         |        GROUP BY t.doc_id),
         |fst AS (SELECT doc_id, (string_split(text, ' '))[1] AS t0 FROM documents)
         |SELECT a.doc_id, a.n_tokens, a.n_subwords, r.rep AS first_enc
         |FROM agg a JOIN fst f ON a.doc_id = f.doc_id
         |JOIN r$BpeRounds r ON f.t0 = r.token
         |ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      val reps = broadcast(bpeLearnBatched(s, d)._2) // vocab-sized merge artifact
      val enc = docs(s, d)
        .select(col("doc_id"), explode(graft.ops.toks(col("text"))).as("token"))
        .join(reps, "token")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(size(split(col("rep"), " "))).as("n_subwords"))
      val first = docs(s, d)
        .select(col("doc_id"), element_at(graft.ops.toks(col("text")), 1).as("token"))
        .join(reps.select(col("token"), col("rep").as("first_enc")), "token")
        .select(col("doc_id"), col("first_enc"))
      enc.join(first, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("n_subwords"), col("first_enc"))
        .orderBy(col("doc_id"))
    }
  )

  // ---- BPE learning (shared by bpe_train / bpe_apply) ------------------

  /** Merge rounds trained/applied by the BPE operators. (A `def`, not a
    * `val`: `defs` above initializes first and would read a val as 0.)
    */
  private def BpeRounds = 5

  /** The oracle's CTE chain: w (word, freq) → r0 (char-split symbols) →
    * per-round pair counts p_i, argmax m_i, rewritten vocab r_{i+1}.
    */
  private def bpeOracleCtes(rounds: Int): String = {
    def stage(i: Int): String =
      s"""p$i AS (SELECT pr.lhs AS lhs, pr.rhs AS rhs, sum(freq)::BIGINT AS cnt
         |       FROM (SELECT freq, unnest(list_transform(range(1, len(string_split(rep, ' '))),
         |                    j -> struct_pack(lhs := string_split(rep, ' ')[j],
         |                                     rhs := string_split(rep, ' ')[j + 1]))) AS pr
         |             FROM r$i) s
         |       GROUP BY 1, 2),
         |m$i AS (SELECT lhs, rhs, cnt FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |r${i + 1} AS (SELECT token, freq,
         |              coalesce(trim(replace(' ' || rep || ' ', ' ' || m.lhs || ' ' || m.rhs || ' ',
         |                           ' ' || m.lhs || m.rhs || ' ')), rep) AS rep
         |       FROM r$i LEFT JOIN m$i m ON true)""".stripMargin
    s"""w AS (SELECT token, count(*)::BIGINT AS freq
       |           FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |           GROUP BY token),
       |r0 AS (SELECT token, freq, trim(regexp_replace(token, '(.)', '\\1 ', 'g')) AS rep
       |       FROM w),
       |${(0 until rounds).map(stage).mkString(",\n")}""".stripMargin
  }

  /** Train `BpeRounds` merges; returns (merge rows, final token→rep map).
    * Per-round cost is vocab-sized; the 1-row argmax is collected to
    * bake the merge pair into the next round's plan (the contract-to-
    * labels convergence-signature pattern, not a data collect).
    */
  private[graft] def bpeLearn(s: SparkSession, d: String)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    var reps = bpeStartVocab(docs(s, d))
      .localCheckpoint(true) // vocab-sized; truncates the per-round lineage
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var exhausted = false
    for (i <- 1 to BpeRounds if !exhausted) {
      bpeTopPair(reps) match {
        case None =>
          // every rep is a single symbol — nothing left to merge; the
          // oracle's empty m_i rounds emit no rows and leave the vocab
          // unchanged (LEFT JOIN + coalesce), exactly this early stop
          exhausted = true
        case Some((l, r, c)) =>
          merges += ((i.toLong, l, r, c))
          reps = reps.select(col("token"), col("freq"),
            trim(call_function("replace",
              concat(lit(" "), col("rep"), lit(" ")),
              lit(s" $l $r "), lit(s" $l$r "))).as("rep"))
            .localCheckpoint(true)
      }
    }
    (merges.result(), reps.select(col("token"), col("rep")))
  }

  /** Batched BPE training (VERDICT r12 #7): per counting round, apply
    * every merge [[bpeBatchSelect]] proves sequential-equal instead of
    * one — same merges, same final vocab, but `rounds ≈ merges /
    * batch-size` driver round-trips and vocab materializations. This
    * is what makes a production 30k-merge vocab tractable: the
    * per-merge cost that remains is a lazy map-side replace; the
    * per-ROUND costs (pair aggregate, argmax collect, checkpoint) are
    * paid once per batch. Equality with [[bpeLearn]] is spec-pinned
    * (TextOpsSpec) on the fixture and on adversarial plants; the
    * oracled keys run THIS path against the sequential SQL oracle —
    * every driver gate re-proves the equivalence.
    * Returns (merge rows, final token→rep map, counting rounds used).
    */
  private[graft] def bpeLearnBatchedOver(start: DataFrame, total: Int, k: Int)
      : (Seq[(Long, String, String, Long)], DataFrame, Int) = {
    var reps = start.localCheckpoint(true)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var done = 0
    var rounds = 0
    var exhausted = false
    while (done < total && !exhausted) {
      val (cands, frontier) = bpeTopPairs(reps, k)
      if (cands.isEmpty) exhausted = true
      else {
        rounds += 1
        // truncating to the remaining budget keeps a prefix of the
        // sequential merge list — still exactly sequential-equal
        val batch = bpeBatchSelect(cands, frontier).take(total - done)
        for ((l, r, c) <- batch) {
          done += 1
          merges += ((done.toLong, l, r, c))
          reps = reps.select(col("token"), col("freq"),
            trim(call_function("replace",
              concat(lit(" "), col("rep"), lit(" ")),
              lit(s" $l $r "), lit(s" $l$r "))).as("rep"))
        }
        reps = reps.localCheckpoint(true) // once per ROUND, not per merge
      }
    }
    (merges.result(), reps.select(col("token"), col("rep")), rounds)
  }

  private[graft] def bpeLearnBatched(s: SparkSession, d: String)
      : (Seq[(Long, String, String, Long)], DataFrame, Int) =
    bpeLearnBatchedOver(bpeStartVocab(docs(s, d)), BpeRounds, 8)

  /** One training round's kernel: the frequency-weighted adjacent-pair
    * count over a (token, freq, rep) vocab and its global argmax (ties
    * lexicographic). Vocab-sized work regardless of corpus size
    * (SCALE.md's `bpe` octave). TextOpsSpec drives it directly.
    */
  private[graft] def bpeTopPair(reps: DataFrame): Option[(String, String, Long)] =
    bpeTopPairs(reps, 1)._1.headOption

  /** Top-K adjacent-pair candidates of one round (ordered cnt desc,
    * then lex) plus the strict below-frontier bound — the (K+1)-th
    * count, or 0 when fewer pairs exist. One vocab-sized aggregate and
    * ONE K-row driver collect, regardless of K.
    */
  private[graft] def bpeTopPairs(reps: DataFrame, k: Int)
      : (Seq[(String, String, Long)], Long) = {
    val arr = split(col("rep"), " ")
    // single-symbol reps have no pairs: sequence(1, 0) would count
    // DOWN in Spark, so guard to an empty list (DuckDB's range is
    // end-exclusive and already empty there)
    val idx = when(size(arr) >= 2, sequence(lit(1), size(arr) - 1))
      .otherwise(array().cast("array<int>"))
    val rows = reps.select(col("freq"), explode(
        transform(idx, j => struct(element_at(arr, j).as("lhs"),
          element_at(arr, j + 1).as("rhs")))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
      .limit(k + 1).collect()
    val cands = rows.take(k).toSeq
      .map(t => (t.getString(0), t.getString(1), t.getLong(2)))
    val frontier = if (rows.length == k + 1) rows(k).getLong(2) else 0L
    (cands, frontier)
  }

  /** Greedy symbol-disjoint merge batch — the standard fast-BPE trick
    * (apply several merges per counting round), restricted to the
    * subset PROVABLY equal to sequential BPE:
    *  - members must be pairwise symbol-disjoint: applying one then
    *    cannot change the count of another (a replace only touches
    *    adjacencies involving its own symbols);
    *  - a member's count must be STRICTLY above every overlapping
    *    candidate seen so far, above the below-frontier bound, and
    *    above any equal-count candidate that touches the batch's
    *    symbols — because every pair a merge CREATES is dominated by
    *    an existing overlapping pair ((x,ab) instances embed (x,a)
    *    instances), so sequential's next argmax can only differ from
    *    ours via one of those, and strict dominance rules them all
    *    out. Note the tie guard is deliberately CONSERVATIVE: any
    *    equal-count candidate that touches the batch's symbols stops
    *    the batch — which includes the already-accepted members
    *    themselves, so equal-count candidates never co-batch at all
    *    (the count-tied tail is left for the next round, where
    *    sequential order resolves it). Relaxing this needs a new
    *    proof, not just a code change.
    * Selection stops at the first disjoint candidate that fails the
    * guard (everything after is smaller still). Worst case the batch
    * is just the argmax — never worse than sequential, usually several
    * merges per round.
    */
  private[graft] def bpeBatchSelect(cands: Seq[(String, String, Long)],
      frontier: Long): Seq[(String, String, Long)] = {
    val taken = Seq.newBuilder[(String, String, Long)]
    var used = Set.empty[String]
    var maxSkipped = 0L
    var first = true
    var stop = false
    for (c @ (l, r, cnt) <- cands if !stop) {
      val disjoint = !used(l) && !used(r)
      if (first) {
        taken += c; used = used + l + r; first = false
      } else if (!disjoint) {
        maxSkipped = math.max(maxSkipped, cnt)
      } else {
        val tieTouches = cands.exists { case (l2, r2, c2) =>
          c2 == cnt && (l2 != l || r2 != r) &&
            (used(l2) || used(r2) || l2 == l || l2 == r || r2 == l || r2 == r)
        }
        if (cnt > maxSkipped && cnt > frontier && !tieTouches) {
          taken += c; used = used + l + r
        } else stop = true
      }
    }
    taken.result()
  }

  /** (eval, train) split of the decontamination keys: every 50th doc is
    * eval, the rest is train, and every eval doc leaks back into train
    * verbatim at +50000.
    */
  private def evalTrain(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val evalDocs = base.filter(col("doc_id") % 50 === 0)
    (evalDocs, base.filter(col("doc_id") % 50 =!= 0).unionByName(copyAt(evalDocs, 50000)))
  }

  /** Banded MinHash candidates between a train corpus and a
    * (broadcast-small) eval corpus with the exact micro-unit Jaccard
    * attached: (tid, eid, jac_micro), unfiltered. ONE copy of the
    * fuzzy-decontamination pipeline, behind `decontaminate_fuzzy`.
    * Callers cache ths/ehs (both are read twice: band candidates +
    * verify join).
    */
  private[graft] def fuzzyPairs(ths: DataFrame, ehs: DataFrame): DataFrame = {
    val eb = minhashBands(ehs).select(col("doc_id").as("eid"), col("b"), col("bkey"))
    minhashBands(ths).select(col("doc_id").as("tid"), col("b"), col("bkey"))
      .join(broadcast(eb), Seq("b", "bkey"))
      .select(col("tid"), col("eid")).distinct()
      .join(ths.select(col("doc_id").as("tid"), col("hs").as("ths")), "tid")
      .join(broadcast(ehs.select(col("doc_id").as("eid"), col("hs").as("ehs"))), "eid")
      .select(col("tid"), col("eid"),
        expr("(size(array_intersect(ths, ehs)) * 1000000L) div size(array_union(ths, ehs))")
          .as("jac_micro"))
  }

  /** Char-split starting vocab for BPE over an arbitrary corpus
    * (shared with TextOpsSpec). */
  private[graft] def bpeStartVocab(corpus: DataFrame): DataFrame =
    corpus.select(explode(graft.ops.toks(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .select(col("token"), col("freq"),
        trim(regexp_replace(col("token"), "(.)", "$1 ")).as("rep"))
}
