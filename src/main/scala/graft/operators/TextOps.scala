package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token statistics,
  * quality scoring, language-ID heuristic, document fingerprinting.
  * Pure built-in-function compositions — fully codegen'd, no UDFs.
  */
object TextOps {

  def tokens(textCol: Column): Column = split(lower(trim(textCol)), "\\s+")

  /** Whitespace token count. */
  def tokenCount(textCol: Column): Column = size(tokens(textCol))

  /** Quality heuristics of one document: length, token stats, punctuation and
    * stopword ratios, and a composite [0,1] score. The stopword list is the
    * tiny language-agnostic function-word core; callers can pass their own.
    */
  def qualityMetrics(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = Seq("the", "a", "an", "of", "to", "and", "in", "is")): DataFrame = {
    val t = tokens(col(textCol))
    val nTok = size(t)
    val nChars = length(col(textCol))
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(t, w => array_contains(stopArr, w)))
    val nPunct = nChars - length(regexp_replace(col(textCol), "[\\p{Punct}]", ""))
    df.select(
      col(idCol),
      nChars.as("n_chars"),
      nTok.as("n_tokens"),
      (nChars.cast("double") / nTok).as("chars_per_token"),
      (nStop.cast("double") / nTok).as("stopword_ratio"),
      (nPunct.cast("double") / nChars).as("punct_ratio"))
  }

  /** Character n-gram language-ID heuristic. Profiles are tiny per-language
    * marker sets (top function words / char sequences); score = marker hits
    * per token, argmax wins, ties broken lexicographically. Deterministic,
    * broadcast-free, linear.
    */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "is", "a"),
      "es" -> Seq("el", "la", "de", "que", "y"),
      "de" -> Seq("der", "die", "und", "das", "ist"),
      "fr" -> Seq("le", "la", "les", "et", "est"),
      "zh" -> Seq("的", "是", "了", "在", "我"))
    val t = tokens(col(textCol))
    val scores = profiles.map { case (lang, markers) =>
      val arr = array(markers.map(lit): _*)
      struct(size(filter(t, w => array_contains(arr, w))).as("score"),
        lit(lang).as("lang"))
    }
    // argmax by (score, reverse-lex lang) then take lang — array_max on
    // structs compares field-wise.
    df.select(col(idCol),
      array_max(array(scores: _*)).getField("lang").as("predicted_lang"))
  }

  /** Normalized document fingerprint: md5 of lowercased, whitespace-collapsed
    * text — the exact-dedup key for noisy duplicates.
    */
  def fingerprint(textCol: Column): Column =
    md5(regexp_replace(lower(trim(textCol)), "\\s+", " "))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD '03): hash
    * every word-k-shingle in position order, slide a w-row window over the
    * hash sequence, keep each window's minimum; the DISTINCT kept hashes are
    * the document's fingerprint set. Any shared token run of length
    * >= w + k − 1 between two documents is then guaranteed to share at least
    * one fingerprint, at ~2/(w+1) selection density — the partial-copy
    * detector that whole-text fingerprints ([[fingerprint]]) can't be.
    *
    * Shingle hash is the portable md5-derived 60-bit value, so the whole
    * operator reproduces in any engine (DuckDB oracle). Scale: one explode,
    * one window over the doc partition, one distinct — no self-joins.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, window: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Ordered shingles, duplicates preserved (ordering is what winnowing is
    // about — Dedup.shingles dedups and would break windows), emitted by a
    // typed flatMap: the higher-order transform/slice form is interpreted
    // per element and measured ~3× slower here (same trade as
    // Dedup.shingleRows). Locale.ROOT lowercase matches Spark's `lower`.
    val hashed = df
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { t =>
        val toks = t._2.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        val sh: Iterator[String] =
          if (toks.length < shingleK) Iterator.single(toks.mkString(" "))
          else toks.sliding(shingleK).map(_.mkString(" "))
        sh.zipWithIndex.map { case (s, i) => (t._1, i, s) }
      }
      .toDF(idCol, "pos", "_sh")
      .select(col(idCol), col("pos"),
        conv(substring(md5(col("_sh")), 1, 15), 16, 10).cast("long").as("_h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos").rowsBetween(0, window - 1)
    hashed
      .select(col(idCol), min(col("_h")).over(w).as("fingerprint"))
      .distinct()
  }

  /** Repetition metrics per document — the Gopher/MassiveText repetition
    * rule family (Rae et al. 2021, arXiv:2112.11446 §A.1.1: drop docs whose
    * most frequent word or 2-gram covers too much of the text, or whose
    * duplicate n-grams do), emitted as EXACT COUNTS so the SQL oracle
    * matches bit-for-bit and callers derive their own ratio thresholds:
    *
    *   n_tokens, n_distinct_tokens, top_token_count,
    *   n_bigrams (= max(n_tokens−1, 0)), top_bigram_count,
    *   dup_bigram_count (occurrences belonging to a bigram seen more than
    *   once — the "fraction of characters in duplicated n-grams" numerator
    *   at word grain).
    *
    * One narrow typed pass (same shape as the signature operators): every
    * metric of a document derives from its own row, so there is no
    * explode → (doc, token)-grain shuffle at any corpus size.
    */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // null-text rows dropped: the SQL form's unnest of a null token array
    // emits nothing for the doc, and null.trim would kill the task
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .where(col(textCol).isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
          val tc = scala.collection.mutable.HashMap.empty[String, Long]
          toks.foreach(t => tc.update(t, tc.getOrElse(t, 0L) + 1L))
          val bc = scala.collection.mutable.HashMap.empty[String, Long]
          var i = 0
          while (i < toks.length - 1) {
            val bg = toks(i) + " " + toks(i + 1)
            bc.update(bg, bc.getOrElse(bg, 0L) + 1L)
            i += 1
          }
          (id, toks.length.toLong, tc.size.toLong,
            if (tc.isEmpty) 0L else tc.valuesIterator.max,
            math.max(toks.length - 1, 0).toLong,
            if (bc.isEmpty) 0L else bc.valuesIterator.max,
            bc.valuesIterator.filter(_ > 1L).sum)
        }
      }
      .toDF(idCol, "n_tokens", "n_distinct_tokens", "top_token_count",
        "n_bigrams", "top_bigram_count", "dup_bigram_count")
  }

  /** Cross-corpus n-gram decontamination: training docs sharing at least
    * `minShared` distinct word n-grams with any eval/benchmark document —
    * the standard leakage check a training-data pipeline runs before
    * shipping a corpus (e.g. drop docs overlapping an eval set on 13-grams;
    * the n and threshold are the caller's contamination policy).
    *
    * Shape: distinct (doc, shingle) rows on both sides, one equi-join ON
    * THE SHINGLE (shuffle by shingle, never all-pairs), then a pair-grain
    * count. The eval side is benchmarks — thousands of docs against a
    * 100 TB corpus — so Spark broadcasts it and the corpus side never
    * shuffles at all; hot shingles (boilerplate phrases appearing across
    * the whole corpus) cap out at |evals sharing it| per corpus row, so
    * there is no m² bucket risk on the big side.
    *
    * @return (idCol, eval_id, shared_ngrams) — one row per contaminated
    *         (training doc, eval doc) pair.
    */
  def contamination(
      docs: DataFrame, evals: DataFrame, idCol: String, textCol: String,
      n: Int = 13, minShared: Int = 1): DataFrame = {
    val d = Dedup.shingleRows(docs, idCol, textCol, n)
    // The broadcast is a HINT in the contract sense but must be explicit:
    // the eval side's size estimate derives from its full base-table scan
    // (filters don't shrink sizeInBytes without CBO), so Catalyst would
    // otherwise plan a sort-merge join that shuffles the entire corpus
    // shingle stream — the exact exchange this operator exists to avoid.
    val e = broadcast(Dedup.shingleRows(evals, idCol, textCol, n)
      .withColumnRenamed(idCol, "eval_id"))
    d.join(e, "_sh")
      .groupBy(col(idCol), col("eval_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .where(col("shared_ngrams") >= minShared)
  }

  /** [[contamination]] with a Bloom prefilter — the scale path when the eval
    * side outgrows a broadcast hash relation: a Bloom filter over the eval
    * shingles' 64-bit hashes is ~10x smaller than the join table (1% fpp ≈
    * 9.6 bits/shingle vs the shingle strings themselves), ships inside the
    * probe expression, and drops non-matching corpus shingles AT SCAN SPEED
    * inside whole-stage codegen — before any join machinery touches them.
    * False positives survive the probe and die in the exact join, so the
    * result is IDENTICAL to [[contamination]] at any fpp: the oracle is
    * shared, the prefilter is pure plan optimization.
    *
    * @param expectedEvalShingles sizes the filter (overestimate is fine —
    *        memory only); fpp trades filter size against wasted join probes.
    */
  def contaminationBloom(
      docs: DataFrame, evals: DataFrame, idCol: String, textCol: String,
      n: Int = 13, minShared: Int = 1,
      expectedEvalShingles: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val e = Dedup.shingleRows(evals, idCol, textCol, n)
    val bloom = e.select(xxhash64(col("_sh")).as("_h"))
      .stat.bloomFilter("_h", expectedEvalShingles, fpp)
    val bytes = graft.functions.BloomMightContain.serialize(bloom)
    val d = Dedup.shingleRows(docs, idCol, textCol, n)
      .where(graft.functions.BloomMightContain.might_contain(
        bytes, xxhash64(col("_sh"))))
    d.join(broadcast(e.withColumnRenamed(idCol, "eval_id")), "_sh")
      .groupBy(col(idCol), col("eval_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .where(col("shared_ngrams") >= minShared)
  }

  /** PII patterns shared by [[piiMetrics]] and [[piiRedact]]. Restricted to
    * the regex subset that means the same thing in Java regex and RE2
    * (no backreferences, no lookaround) so a SQL oracle reproduces the scrub
    * bit-for-bit. Ordered: the email pattern must run before IPv4 (a
    * dotted-quad inside a redacted email no longer exists to double-match).
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{3}-\\d{3}-\\d{4}\\b" -> "<PHONE>")

  /** Per-document PII hit counts (emails, IPv4 addresses, dashed phone
    * numbers) — the detect side of the scrub a corpus runs before release.
    * Each pattern counts on the PROGRESSIVELY-REDACTED text (emails first,
    * then IPv4 on the email-scrubbed text, then phones), so a dotted-quad
    * inside an email local part is counted once as an email, never again as
    * an IP — counts equal exactly what [[piiRedact]] replaces. One narrow
    * codegen'd pass; `regexp_count` never materializes matches.
    */
  def piiMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val names = Seq("n_emails", "n_ipv4", "n_phones")
    val (counts, _) = PiiPatterns.zip(names).foldLeft(
        (Seq.empty[Column], col(textCol))) {
      case ((acc, text), ((pat, repl), name)) =>
        (acc :+ regexp_count(text, lit(pat)).cast("long").as(name),
          regexp_replace(text, pat, repl))
    }
    df.select(col(idCol) +: counts: _*)
  }

  /** Text with every [[PiiPatterns]] match replaced by its placeholder.
    * Leftmost non-overlapping global replace — identical semantics in Java
    * and RE2, hence oracle-exact.
    */
  def piiRedact(textCol: Column): Column =
    PiiPatterns.foldLeft(textCol) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Fixed-size overlapping token windows — the doc → training-example
    * chunking step (RAG indexing, long-doc splitting). Chunk i covers tokens
    * [i*stride, i*stride + chunkSize); the last chunk may be short; a doc
    * never emits an empty chunk (every start < n_tokens). Pure built-ins —
    * one `sequence` + `posexplode`, no shuffle: chunking a 100 TB corpus is
    * a map-only job.
    *
    * @return (idCol, chunk_id, n_tokens, chunk_text)
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(stride > 0 && chunkSize >= stride,
      s"need 0 < stride <= chunkSize, got stride=$stride chunkSize=$chunkSize")
    val t = tokens(col(textCol))
    // null text → 0 tokens, dropped by the n > 0 filter below — explicit in
    // both ANSI modes (legacy sizeOfNull=-1 would otherwise make `sequence`
    // throw on negative boundaries; ANSI-null would silently drop the row).
    val n = coalesce(size(t), lit(0))
    // last chunk start = floor((n-1)/stride)*stride, so every start < n.
    val starts = sequence(lit(0), floor((n - 1).cast("double") / stride).cast("int") * stride, lit(stride))
    df.where(n > 0)
      .select(col(idCol), posexplode(starts).as(Seq("chunk_id", "_s")), t.as("_t"))
      .select(
        col(idCol), col("chunk_id"),
        size(slice(col("_t"), col("_s") + 1, lit(chunkSize))).as("n_tokens"),
        array_join(slice(col("_t"), col("_s") + 1, lit(chunkSize)), " ").as("chunk_text"))
  }

  /** Line-level quality filter (the C4 cleaning family, Raffel et al. 2020
    * arXiv:1910.10683 §2.2): keep only lines with at least `minWords`
    * whitespace words that end in terminal punctuation, and re-join the
    * survivors. Higher-order array ops on the line array — no explode, no
    * shuffle, one codegen'd map pass.
    *
    * @return (idCol, total_lines, kept_lines, filtered_text)
    */
  def filterLines(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 5): DataFrame = {
    val ls = split(col(textCol), "\n")
    // Both predicates see the same trimmed string: terminal punctuation is
    // checked on rtrim(l) (trailing spaces don't hide the terminator), and
    // C4's heuristic also accepts a closing quote after the punctuation.
    val keptCol = filter(ls, l =>
      rtrim(l).rlike("[.!?\"']$") && size(split(trim(l), "\\s+")) >= minWords)
    df.select(
      col(idCol),
      size(ls).as("total_lines"),
      size(keptCol).as("kept_lines"),
      array_join(keptCol, "\n").as("filtered_text"))
  }

  /** C4-style span-level dedup (Raffel et al. 2020 §2.2 discard repeated
    * three-sentence spans; here the span is a line): every occurrence of a
    * normalized line that appears ANYWHERE else in the corpus is dropped
    * except the single occurrence with the smallest (id, position), and each
    * document is reassembled from its surviving lines in order.
    *
    * Scale shape: one shuffle at fingerprint grain and one at id grain,
    * both linear. The keeper choice is `row_number() == 1` over the
    * fingerprint window, which Spark compiles to WindowGroupLimit — a
    * map-side partial top-1 per fingerprint — so a boilerplate line repeated
    * a billion times ships ~one row per map partition, not a billion into
    * one reducer (PlanSpec-asserted). Reassembly is a per-document
    * collect_list, bounded by document size, never corpus size.
    *
    * @return (idCol, deduped_text, kept_spans) — documents whose every line
    *         lost to another document disappear from the output.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spans = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("_fp", md5(trim(col("line"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_fp").orderBy(col(idCol), col("pos"))
    spans.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")), "\n").as("deduped_text"),
        count(lit(1)).as("kept_spans"))
  }

  /** TF-IDF per (document, term): tf * ln(N / df). Two hash aggregates and
    * one broadcast-able join on term — the classic formulation, no ML-lib
    * state. docCount is passed in (a cheap count) so the plan stays a pure
    * dataflow.
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String, docCount: Long): DataFrame = {
    val terms = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .select(col(idCol), col("term"),
        // ln() is not correctly-rounded and differs by 1 ulp across libms
        // (JVM vs DuckDB) — round to 6dp so scores are engine-portable.
        round(col("tf").cast("double") * log(lit(docCount.toDouble) / col("df").cast("double")), 6)
          .as("tfidf"))
  }

  /** fastText-style hashed-linear quality classifier: each token indexes a
    * weight via the hashing trick (no vocabulary), the document score is the
    * mean token weight. The weight table is a DETERMINISTIC STUB for trained
    * classifier weights — w(token) = (md5₆₀("model:token") mod 2001) − 1000,
    * i.e. a reproducible uniform draw in [−1000, 1000] keyed by the model
    * name — so the plumbing (hash → lookup → mean → threshold), which is
    * what survives a model swap, is real and oracle-exact, while a
    * production user substitutes a broadcast weight array from training.
    *
    * Arithmetic is integer until the final division (token weights and their
    * sum are exact in any engine; one correctly-rounded divide + 6dp round),
    * so a SQL oracle reproduces scores bit-for-bit. A pure narrow map over
    * the corpus — the tokens never leave their row (higher-order `transform`
    * + `aggregate`, fully codegen'd): zero shuffles at any scale.
    *
    * @return (id, n_tokens, score_i = Σ w(token), score = score_i/(1000·n),
    *         keep = score_i > 0)
    */
  /** The raw integer score Σ w(token) of [[classifierScore]] as a pure
    * column expression — per-row and stateless, so it drops into streaming
    * gates ([[graft.streaming.CurationStream]]) unchanged.
    */
  def classifierScoreExpr(textCol: Column, modelName: String = "qc1"): Column = {
    val weight = (t: Column) =>
      conv(substring(md5(concat(lit(modelName + ":"), t)), 1, 15), 16, 10)
        .cast("long") % 2001L - 1000L
    aggregate(tokens(textCol), lit(0L), (acc, t) => acc + weight(t))
  }

  def classifierScore(df: DataFrame, idCol: String, textCol: String,
      modelName: String = "qc1"): DataFrame = {
    df.select(
        col(idCol),
        size(tokens(col(textCol))).cast("long").as("n_tokens"),
        classifierScoreExpr(col(textCol), modelName).as("score_i"))
      .withColumn("score",
        round(col("score_i") / (col("n_tokens") * lit(1000.0)), 6))
      .withColumn("keep", col("score_i") > 0L)
  }

  /** Character-bigram surprisal — a CCNet-style language-model quality score
    * (arXiv:1911.00359 §3.3 uses a trained 5-gram LM; the SHAPE here is the
    * same two-pass scorer) with the corpus itself as the model: pass 1
    * aggregates the global bigram frequency table (tiny — |charset|² entries,
    * broadcast), pass 2 streams every document's bigrams past it and scores
    * surprisal. Unusual character sequences (mojibake, boilerplate, wrong
    * language) sit in rare bigrams and score high.
    *
    * Surprisal is measured in INTEGER floor-log₂ bits — bits(x) =
    * length(bin(x)), so −log₂(c/T) ≈ bits(T) − bits(c) within one bit per
    * term — keeping every engine's arithmetic exact (a float log sums in
    * data-dependent order and drifts across engines; integer bits cannot).
    * The resolution loss is the declared trade for oracle-exactness; swap
    * the count table for trained LM probabilities in production.
    *
    * Scale shape: the per-doc bigram HISTOGRAM is computed inside the scan
    * by the native `bigram_counts` expression (`functions/BigramCounts.scala`)
    * — one pass over the UTF-8 bytes per document, no per-character rows.
    * The generator then emits one row per DISTINCT bigram per document,
    * already at count grain, so there is no O(total characters) explode and
    * no (doc, bigram) exchange at all; both aggregates are map-side partial
    * and the probability lookup is a broadcast join — the only shuffles are
    * the tiny global model and the final per-doc sum at (id) grain. Docs
    * shorter than 2 chars have no bigrams and are absent from the output
    * (score undefined).
    *
    * @return (id, n_bigrams, surprisal_bits, bits_per_bigram)
    */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.BigramCountsOps.bigram_counts
    // (id, bigram, count) straight from the histogram — identical content
    // to explode-then-groupBy(id, bg), with the count grain reached inside
    // whole-stage codegen instead of through a corpus-sized exchange.
    //
    // perDoc feeds BOTH the global model and the final per-doc join, and its
    // subtree has no exchange for ReuseExchange to dedupe (the old groupBy
    // formulation did), so without persistence the corpus scan + histogram
    // would run twice per call. Persist at count grain — far smaller than the
    // raw text — pinned to the caller's [[graft.Scope]]; re-shuffling on id
    // instead would reintroduce the corpus-wide (doc, bigram) exchange this
    // formulation exists to avoid.
    val perDoc = graft.Scope.pin(df
      .select(col(idCol), explode(bigram_counts(trim(col(textCol)))).as(Seq("bg", "cd")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val counts = perDoc.groupBy("bg").agg(sum("cd").as("c"))
    val total = counts.agg(sum("c").as("tt"))
    val bits = (x: Column) => length(bin(x))
    perDoc
      .join(broadcast(counts), "bg")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        sum("cd").cast("long").as("n_bigrams"),
        sum(col("cd") * (bits(col("tt")) - bits(col("c"))))
          .cast("long").as("surprisal_bits"))
      .withColumn("bits_per_bigram",
        round(col("surprisal_bits") / col("n_bigrams").cast("double"), 6))
  }

  /** GREEDY SEQUENCE PACKING — assign each document to a fixed-token-budget
    * training sequence (the pre-tokenization packing step of an LLM data
    * pipeline: concatenate documents until the context window would
    * overflow, then start the next sequence). This is the
    * DOCUMENT-BOUNDARY-RESPECTING variant — no document is ever split
    * across sequences, the layout used when cross-document attention
    * contamination matters; [[Sampling.packSequences]] (ds5) is the
    * complementary concat-and-chunk layout where documents straddle cuts
    * and every sequence is exactly full. Packing is greedy in id order
    * WITHIN a shard (`shard = id mod nShards`): a document opens a new
    * sequence exactly when the current one is non-empty and adding it would
    * exceed `ctxLen`; an oversized document (n_tokens > ctxLen) therefore
    * occupies a sequence alone rather than being dropped or split — the
    * caller decides truncation. `(shard, seq_id)` identifies a sequence;
    * `fill_after` is the running token total, so a sequence's final fill —
    * its padding waste — is `max(fill_after)` per (shard, seq_id).
    *
    * Scale shape: packing is inherently sequential, so the scalable form is
    * the standard compromise — shard-parallel, sequential within shard. One
    * hash exchange on `shard` + a within-partition sort, then a single
    * streaming pass with O(1) state per shard (state resets on the sorted
    * shard boundary, so co-located shards are safe and AQE coalescing is
    * irrelevant). No driver materialization at any scale.
    *
    * Determinism contract: the assignment depends only on
    * (id, n_tokens, ctxLen, nShards) — never on physical partitioning — and
    * the SHARD COUNT IS PART OF THAT KEY: different `nShards` values
    * legitimately produce different (equally valid) packings. The default
    * (`nShards = 0`) derives the count from the input's partitioning, so a
    * 100 TB frame packs at the job's full parallelism instead of a fixed
    * 8-task ceiling — but it therefore inherits the input layout's
    * variability. Pin `nShards` explicitly wherever the exact assignment
    * must be reproducible across runs or layouts (the oracle-gated t16
    * query does).
    *
    * @param nShards shards to pack in parallel; 0 (default) = the input's
    *                partition count (min 1)
    * @return (doc_id, shard, n_tokens, seq_id, pos_in_seq, fill_after)
    */
  def packGreedy(df: DataFrame, idCol: String, textCol: String,
      ctxLen: Int, nShards: Int = 0): DataFrame = {
    require(ctxLen > 0 && nShards >= 0)
    val shards =
      if (nShards > 0) nShards
      else math.max(df.rdd.getNumPartitions, 1)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        col(idCol).cast("long").as("doc_id"),
        tokenCount(col(textCol)).cast("int").as("n_tokens"),
        pmod(col(idCol).cast("long"), lit(shards.toLong)).cast("int").as("shard"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .as[(Long, Int, Int)]
      .mapPartitions { it =>
        var curShard = -1
        var seq = 0L; var fill = 0L; var pos = 0
        it.map { case (id, n, sh) =>
          if (sh != curShard) { curShard = sh; seq = 0L; fill = 0L; pos = 0 }
          if (fill > 0L && fill + n > ctxLen) { seq += 1L; fill = 0L; pos = 0 }
          fill += n; pos += 1
          (id, sh, n, seq, pos, fill)
        }
      }
      .toDF("doc_id", "shard", "n_tokens", "seq_id", "pos_in_seq", "fill_after")
  }
}
