package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY.md §7.6): token counting, quality scoring, language ID,
  * fingerprinting. All pure built-in `Column` expressions — codegen'd,
  * no UDFs, embarrassingly parallel per row (no shuffle), so they scale
  * linearly with input splits at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens, empty-safe (leading/trailing whitespace yields
    * empty fragments in Spark's split — filtered out).
    */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= "")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish token estimate: letter runs, digit runs, and isolated
    * punctuation each count as one token (the pre-tokenization regex most
    * BPE vocabularies use).
    */
  def wordTokenCount(c: Column): Column =
    regexp_count(c, lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"))

  /** Greedy longest-match subword segmentation of ONE word against a
    * vocab table — the WordPiece/BPE-apply shape: at each position take
    * the longest vocab piece that matches; characters no piece covers
    * fall back to single-char pieces. Returns the piece array (token
    * count = its size). Deterministic by construction (longest match,
    * ties impossible), so the DuckDB oracle reproduces it from the same
    * vocab with a recursive position-orbit.
    *
    * The vocab rides the plan as per-length literal arrays (longest
    * length probed first — a truncated end-of-word substring can never
    * equal a longer piece, so no boundary guard is needed). Intended
    * for DISTINCT-word frames (see [[bpeTokenCounts]]): the loop is an
    * interpreted HOF, priced per vocabulary entry, not per corpus
    * token.
    */
  def bpePieces(w: Column, vocab: Seq[String]): Column = {
    require(vocab.nonEmpty, "empty BPE vocab")
    val byLen = vocab.distinct.groupBy(_.length).toSeq.sortBy(-_._1)
    def matchLen(pos: Column): Column =
      coalesce(byLen.map { case (l, vs) =>
        when(array_contains(array(vs.map(lit): _*),
          w.substr(pos, lit(l))), lit(l))
      } :+ lit(1): _*)
    val init = struct(lit(1).as("pos"),
      array().cast("array<string>").as("ps"))
    aggregate(sequence(lit(1), length(w)), init, (acc, _) => {
      val pos = acc.getField("pos")
      val m = matchLen(pos)
      when(pos > length(w), acc)
        .otherwise(struct((pos + m).as("pos"),
          concat(acc.getField("ps"), array(w.substr(pos, m))).as("ps")))
    }).getField("ps")
  }

  /** Real (vocab-table-driven) token counts per document: whitespace
    * pre-tokenization, greedy longest-match segmentation of each
    * DISTINCT word, counts joined back and summed per document —
    * (id, n_words, n_bpe_tokens). Replaces the [[wordTokenCount]]
    * regex ESTIMATE wherever a token budget must be real.
    *
    * Scale shape: segmentation runs on the distinct-word frame (the
    * corpus vocabulary — orders of magnitude smaller than the token
    * stream) via the JOIN-based matcher ([[bpeTokenCountsFrom]]), so
    * a production vocabulary neither bloats the expression tree nor
    * costs O(|vocab|) per character; the count join keys on the word
    * and AQE broadcasts the segmented dimension whenever it actually
    * fits. Documents with zero tokens emit no row.
    */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: Column,
      vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "empty BPE vocab")
    val spark = df.sparkSession
    import spark.implicits._
    bpeTokenCountsFrom(df, idCol, textCol,
      vocab.distinct.toDF("piece"))
  }

  /** [[bpeTokenCounts]] against a vocab FRAME — the production-scale
    * apply (round-12 directive #3). The old [[bpePieces]] apply rode
    * the plan as per-length literal arrays: a 50k-piece vocabulary
    * would both bloat the expression tree with 50k literals and pay an
    * O(|vocab|)-wide array scan per character. Here matching is ONE
    * equi-join: every (word, position) probes one substring per
    * DISTINCT piece length (a handful — collected driver-side,
    * bounded by [[MaxPieceLen]]) against the broadcast vocab frame;
    * the longest matched piece per position becomes the greedy step,
    * and the per-word orbit walks a position→step map in a single HOF
    * pass — priced per (distinct word × distinct lengths), never per
    * vocabulary entry. Result-identical to the literal-array path
    * (law-tested in Round12PropSpec): a truncated end-of-word probe
    * can only equal a SHORTER piece, which a shorter probe also
    * finds, so max(len(piece)) is the longest match either way.
    */
  def bpeTokenCountsFrom(df: DataFrame, idCol: String, textCol: Column,
      vocab: DataFrame): DataFrame = {
    val words = df.select(col(idCol).as("id"),
      explode(tokens(textCol)).as("w"))
    val seg = bpePieceCounts(words.select("w").distinct(), vocab)
    words.join(seg, "w")
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_pieces").as("n_bpe_tokens"))
  }

  /** Distinct piece lengths may not exceed this (guards the driver-side
    * lengths collect and the per-position probe count).
    */
  val MaxPieceLen = 64

  /** Greedy longest-match piece COUNT per distinct word against a
    * vocab frame — the join-based matcher behind [[bpeTokenCountsFrom]]
    * (see there for the scale argument). `words` = one `w` per distinct
    * word; `vocab` = one `piece` per entry. Output: (w, n_pieces).
    */
  def bpePieceCounts(words: DataFrame, vocab: DataFrame): DataFrame = {
    val lens: Seq[Int] = vocab
      .select(length(col("piece")).as("l")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    require(lens.nonEmpty, "empty BPE vocab")
    require(lens.last <= MaxPieceLen,
      s"piece length ${lens.last} exceeds MaxPieceLen=$MaxPieceLen")
    // (w, pos, sub): one probe substring per distinct piece length;
    // distinct drops truncation twins at the word's end
    val cand = words
      .select(col("w"), explode(sequence(lit(1), length(col("w"))))
        .as("pos"))
      .select(col("w"), col("pos"),
        explode(array_distinct(array(
          lens.map(l => col("w").substr(col("pos"), lit(l))): _*)))
          .as("sub"))
    val steps = cand
      .join(broadcast(vocab), cand("sub") === vocab("piece"))
      .groupBy("w", "pos")
      .agg(max(length(col("piece"))).as("step"))
      .groupBy("w")
      .agg(map_from_entries(collect_list(struct(col("pos"), col("step"))))
        .as("steps"))
    // orbit: pos_{k+1} = pos_k + step(pos_k), fallback 1 where no
    // piece matches; one HOF pass per word, state bounded by |w|
    words.join(steps, Seq("w"), "left")
      .select(col("w"),
        aggregate(sequence(lit(1), length(col("w"))),
          struct(lit(1).as("pos"), lit(0L).as("n")),
          (acc, _) => {
            val pos = acc.getField("pos")
            when(pos > length(col("w")), acc)
              .otherwise(struct(
                (pos + coalesce(try_element_at(col("steps"), pos), lit(1)))
                  .as("pos"),
                (acc.getField("n") + 1).as("n")))
          }).getField("n").as("n_pieces"))
  }

  /** Learn `nMerges` BPE merges from the corpus (whitespace words,
    * symbols start as characters, each step merges the most frequent
    * adjacent pair with corpus count >= `minCount`; deterministic
    * count-desc / pair-lexicographic argmax). Output:
    * (merge_rank, lhs, rhs, merged, cnt), one row per executed merge —
    * learning stops early when no pair reaches `minCount`.
    *
    * Scale shape: the corpus-sized work is ONE distributed hash-agg
    * (the word histogram — combiner-absorbed, shuffled on the word
    * key); the merge loop itself is inherently sequential (step k+1's
    * counts depend on step k's merge), so it runs once, executor-side,
    * over the vocabulary-sized histogram via [[BpeTrainer]]'s indexed
    * incremental update — never nMerges shuffle jobs over the corpus.
    * The DuckDB twin re-learns the full sequence from scratch with one
    * materialized pair-count + argmax + recursive-merge-orbit CTE
    * block per step.
    */
  def learnBpeMerges(df: DataFrame, textCol: Column, nMerges: Int,
      minCount: Long = 2L): DataFrame =
    learnBpeMergesFromHistogram(
      df.select(explode(tokens(textCol)).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt")),
      nMerges, minCount)

  /** [[learnBpeMerges]] from a pre-computed (w, cnt) histogram — the
    * seam for corpora whose histogram is already materialized (or
    * pre-pruned by a min-word-frequency filter, the standard way to
    * bound trainer memory at web scale).
    */
  def learnBpeMergesFromHistogram(hist: DataFrame, nMerges: Int,
      minCount: Long): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    hist
      .select(col("w").cast("string"), col("cnt").cast("long"))
      .as[(String, Long)]
      // repartition(1) (not coalesce) keeps the histogram agg parallel
      // upstream and lands the whole frame in ONE task for the trainer
      .repartition(1)
      .mapPartitions(it => BpeTrainer.train(it, nMerges, minCount))
      .toDF()
  }

  /** [[learnBpeMergesFromHistogram]] with the per-iteration
    * adjacent-pair counting as a DISTRIBUTED aggregation (round-13
    * directive #2): the (w, cnt) histogram stays a DataFrame of
    * codepoint-symbol sequences across all iterations; each merge step
    * is ONE hash-aggregation over the exploded adjacent pairs (map-side
    * combined, shuffled on the pair key), a driver-side argmax over the
    * max-count ties only, and one narrow projection applying the winner
    * leftmost-first-non-overlapping via a per-word fold. The
    * single-task [[BpeTrainer]] is kept as the LAW reference
    * (Round13PropSpec pins merge sequences equal on random
    * histograms); this path is for histograms too large for one task —
    * hundreds of millions of distinct words pre-prune — where the
    * sequential trainer's O(vocab) heap residency is the bound, at the
    * price of nMerges shuffle rounds (the honest trade: PLANS.md
    * round 13 measures the single-task trainer FASTER on every
    * fits-in-one-task histogram, ~1M distinct words included — use
    * this variant for memory, never speed; or better, use
    * [[learnBpeMergesDistributedDelta]], which keeps the memory
    * property and cuts the per-merge work to the affected words).
    *
    * State is `localCheckpoint`ed per iteration (the duplicateClusters
    * discipline — lineage would otherwise deepen by one fold per
    * merge). Argmax ties collect to the driver and break on Scala
    * string order, exactly the trainer's comparator.
    */
  def learnBpeMergesDistributed(hist: DataFrame, nMerges: Int,
      minCount: Long): DataFrame = {
    require(nMerges >= 1 && nMerges <= 65536, s"bad nMerges $nMerges")
    require(minCount >= 1L, s"bad minCount $minCount")
    val spark = hist.sparkSession
    import spark.implicits._
    // codepoint symbols ((?s). matches one code point — surrogate
    // pairs stay whole, matching BpeTrainer.toSymbols)
    var state = hist
      .select(regexp_extract_all(col("w").cast("string"),
        lit("(?s)."), lit(0)).as("syms"), col("cnt").cast("long"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var r = 1L
    var stop = false
    while (r <= nMerges && !stop) {
      val n = greatest(size(col("syms")) - 1, lit(0))
      val counts = state
        .select(explode(zip_with(slice(col("syms"), lit(1), n),
            slice(col("syms"), lit(2), n),
            (x, y) => struct(x.as("l"), y.as("r")))).as("p"),
          col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .filter(col("c") >= minCount)
      val anyTop = counts.orderBy(col("c").desc).limit(1).collect()
      if (anyTop.isEmpty) stop = true
      else {
        val mx = anyTop(0).getLong(2)
        // ties at the max collect (few in practice) and break on the
        // trainer's own comparator — Scala string order, not
        // UTF8String byte order, so non-BMP tie-breaks agree too
        val (bl, br) = counts.filter(col("c") === mx)
          .select(col("l"), col("r")).collect()
          .map(x => (x.getString(0), x.getString(1)))
          .minBy(identity)
        out += BpeMerge(r, bl, br, bl + br, mx)
        state = state
          .select(mergePairExpr(col("syms"), bl, br).as("syms"),
            col("cnt"))
          .localCheckpoint(true)
        r += 1
      }
    }
    out.toSeq.toDF()
  }

  /** [[learnBpeMergesDistributed]] with the per-iteration cost cut to
    * the DELTA (round-14 directive #4 — the classic incremental-BPE
    * fix, distributed): a standing (l, r, c) pair histogram is built
    * ONCE from the full corpus histogram; each merge then (1) argmaxes
    * over the standing pairs, (2) re-counts pairs for ONLY the words
    * that actually contain the winning adjacency — negated
    * before-counts and positive after-counts — and (3) folds that
    * delta into the standing histogram (union + re-aggregate, dropping
    * exact zeros; zero-dropping is safe because a dropped pair has no
    * remaining occurrence, so any later contribution re-enters with a
    * correct base of 0). The word frame is rewritten per merge only
    * where the winner occurs (a lazily-evaluated CASE branch); every
    * other word's symbols and pair contributions are never recomputed.
    *
    * This is exactly why [[BpeTrainer]]'s incremental index wins
    * in-task — transplanted to the distributed setting: per-iteration
    * shuffle work drops from O(corpus adjacencies) to O(standing
    * distinct pairs + affected-word adjacencies). The full
    * re-aggregation variant ([[learnBpeMergesDistributed]]) is kept as
    * the law baseline; Round13PropSpec pins all three paths to
    * identical merge sequences on random histograms.
    *
    * Honest measurement (1M distinct words, 8 merges, full table in
    * PLANS.md §Round 14): the delta path wins the full
    * re-aggregation by ~1.2× (25 s vs 30 s), NOT the 5× hoped for —
    * removing the per-merge corpus explode exposed the next floor, the
    * per-merge rewrite + eager materialization of the 1M-row symbol
    * frame (~2.5 s/merge) plus fixed multi-job scheduling. Two
    * attempted fixes measured WORSE and were reverted: chaining the
    * rewrites lazily (stacked O(|w|) fold expressions re-evaluate per
    * scan — 16× slower) and a base+overrides split state (per-merge
    * broadcast builds and extra join layers cost more than the
    * materialization they saved — 1.7× slower). The single-task
    * trainer stays ~5× ahead on any histogram that fits one task; the
    * delta variant's claim remains memory headroom with the least
    * distributed overhead, not parity.
    *
    * State (`syms` words and the pair histogram) is
    * `localCheckpoint`ed per iteration; the argmax tie-break collects
    * ties-at-max only and uses the trainer's own Scala-string
    * comparator, like the baseline.
    */
  def learnBpeMergesDistributedDelta(hist: DataFrame, nMerges: Int,
      minCount: Long): DataFrame = {
    require(nMerges >= 1 && nMerges <= 65536, s"bad nMerges $nMerges")
    require(minCount >= 1L, s"bad minCount $minCount")
    val spark = hist.sparkSession
    import spark.implicits._
    def pairCounts(words: DataFrame): DataFrame = {
      val n = greatest(size(col("syms")) - 1, lit(0))
      words
        .select(explode(zip_with(slice(col("syms"), lit(1), n),
            slice(col("syms"), lit(2), n),
            (x, y) => struct(x.as("l"), y.as("r")))).as("p"),
          col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
    }
    var words = hist
      .select(regexp_extract_all(col("w").cast("string"),
        lit("(?s)."), lit(0)).as("syms"), col("cnt").cast("long"))
      .localCheckpoint(true)
    // the ONE corpus-sized aggregation; kept UNFILTERED — dropping
    // sub-minCount rows would lose the base a later negative delta
    // subtracts from (only exact zeros may go)
    var pairs = pairCounts(words).localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var r = 1L
    var stop = false
    while (r <= nMerges && !stop) {
      val anyTop = pairs.filter(col("c") >= minCount)
        .orderBy(col("c").desc).limit(1).collect()
      if (anyTop.isEmpty) stop = true
      else {
        val mx = anyTop(0).getLong(2)
        val (bl, br) = pairs.filter(col("c") === mx)
          .select(col("l"), col("r")).collect()
          .map(x => (x.getString(0), x.getString(1)))
          .minBy(identity)
        out += BpeMerge(r, bl, br, bl + br, mx)
        val hit = hasAdjacentPair(col("syms"), bl, br)
        val affected = words.filter(hit).cache()
        try {
          val delta = pairCounts(affected)
            .select(col("l"), col("r"), (-col("c")).as("c"))
            .unionByName(pairCounts(affected.select(
              mergePairExpr(col("syms"), bl, br).as("syms"),
              col("cnt"))))
          pairs = pairs.unionByName(delta)
            .groupBy(col("l"), col("r")).agg(sum(col("c")).as("c"))
            .filter(col("c") =!= 0)
            .localCheckpoint(true)
          words = words
            .select(when(hasAdjacentPair(col("syms"), bl, br),
                mergePairExpr(col("syms"), bl, br))
              .otherwise(col("syms")).as("syms"), col("cnt"))
            .localCheckpoint(true)
        } finally { affected.unpersist(blocking = false); () }
        r += 1
      }
    }
    out.toSeq.toDF()
  }

  /** True when the symbol array contains the ADJACENT pair (l, r) —
    * the delta learner's affected-word predicate (cheap: one
    * slice-zip pass per word, no aggregation).
    */
  private def hasAdjacentPair(syms: Column, l: String,
      r: String): Column = {
    val n = greatest(size(syms) - 1, lit(0))
    exists(zip_with(slice(syms, lit(1), n), slice(syms, lit(2), n),
      (x, y) => x === lit(l) && y === lit(r)), p => p)
  }

  /** Leftmost-first non-overlapping application of one merge (l, r) to
    * a symbol array — the fold twin of BpeTrainer's in-place rewrite.
    * try_element_at past the end nulls out and the null comparison
    * reads "no pair" (ANSI-safe without relying on And short-circuit).
    */
  private def mergePairExpr(syms: Column, l: String, r: String): Column =
    aggregate(sequence(lit(1), size(syms)),
      struct(lit(1).as("pos"),
        array().cast("array<string>").as("out")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val o = acc.getField("out")
        when(pos > size(syms), acc)
          .when(try_element_at(syms, pos) === lit(l) &&
              try_element_at(syms, pos + 1) === lit(r),
            struct((pos + 2).as("pos"),
              concat(o, array(lit(l + r))).as("out")))
          .otherwise(struct((pos + 1).as("pos"),
            concat(o, array(try_element_at(syms, pos))).as("out")))
      }).getField("out")

  def avgTokenLength(c: Column): Column = {
    val ts = tokens(c)
    when(size(ts) > 0,
      aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double")
        / size(ts))
      .otherwise(lit(0.0))
  }

  /** Share of letter characters — low values indicate markup/noise. */
  def alphaRatio(c: Column): Column =
    when(length(c) > 0,
      length(regexp_replace(c, "[^\\p{L}]", "")).cast("double") / length(c))
      .otherwise(lit(0.0))

  /** Share of punctuation characters. */
  def punctRatio(c: Column): Column =
    when(length(c) > 0,
      length(regexp_replace(c, "[^\\p{Punct}]", "")).cast("double")
        / length(c))
      .otherwise(lit(0.0))

  /** Canonical text normalization for dedup keys: lowercase, strip
    * every non-alphanumeric to a space, collapse whitespace runs, trim.
    * The standard pre-hash canonicalization (case/punctuation/spacing
    * variants of the same content normalize to one string) — a pure
    * per-row projection, zero shuffle, engine-portable (ASCII-safe
    * regexes, identical in RE2 and Java). Unicode-aware folding would
    * bolt on in front as another `regexp_replace`/`translate` layer.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** 48-bit portable hash of the normalized text — the near-exact dedup
    * key: join/groupBy on this collapses formatting twins that byte
    * hashing misses, at exact-dedup cost (one hash-agg on a bounded
    * key).
    */
  def normalizedHash(c: Column): Column = Dedup.hash48(normalizeText(c))

  /** Overlapping character bigrams of the text: positions 1..len-1,
    * each a 2-char substring. The lambda touches only its own index
    * variable plus the SOURCE column (cheap — no expensive-alias
    * re-evaluation trap). Texts shorter than 2 chars yield an EMPTY
    * array — without the guard, `sequence(1, len-1)` counts DOWN for
    * len < 2 (Spark defaults the step to -1) and fabricates bigrams.
    */
  def charBigrams(c: Column): Column =
    when(length(c) >= 2,
      transform(sequence(lit(1), length(c) - 1), i => c.substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))

  /** Shannon entropy (nats) of the char-bigram distribution — the
    * classic gibberish/keyboard-mash/compressibility quality signal:
    * natural prose sits well above repeated-run spam, without any
    * compression UDF. Computed by the native `array_entropy` expression:
    * ONE hash-count pass per row inside codegen, summed in binary key
    * order so the double fold is deterministic and oracle-matchable.
    * Zero shuffle — a narrow projection like the other quality scores.
    */
  def charBigramEntropy(c: Column): Column =
    graft.functions.ArrayCounts.entropyOf(charBigrams(c))

  /** Occurrences of a literal substring — replace-based so the same
    * arithmetic is expressible in any SQL dialect (oracle parity).
    */
  def occurrences(c: Column, token: String): Column =
    (length(c) - length(regexp_replace(c, java.util.regex.Pattern
      .quote(token), ""))) / token.length

  /** Stopword hits per language (space-padded word matching). */
  def stopwordScore(c: Column, stopwords: Seq[String]): Column = {
    val padded = concat(lit(" "), c, lit(" "))
    stopwords.map(w => occurrences(padded, s" $w ")).reduce(_ + _)
  }

  val StopwordsEn = Seq("the", "and", "of", "to", "a")
  val StopwordsEs = Seq("el", "la", "de", "que", "y")
  val StopwordsFr = Seq("le", "et", "les", "des", "un")
  val StopwordsDe = Seq("der", "und", "die", "das", "ist")

  /** n-gram-heuristic language ID: script detection for CJK/Cyrillic,
    * stopword-count argmax for Latin languages (deterministic tie-break
    * order en > es > fr > de).
    */
  def langId(c: Column): Column = {
    val en = stopwordScore(c, StopwordsEn)
    val es = stopwordScore(c, StopwordsEs)
    val fr = stopwordScore(c, StopwordsFr)
    val de = stopwordScore(c, StopwordsDe)
    when(c.rlike("[\\x{4E00}-\\x{9FFF}]"), lit("zh"))
      .when(c.rlike("[\\x{0400}-\\x{04FF}]"), lit("ru"))
      .when(en >= es && en >= fr && en >= de, lit("en"))
      .when(es >= fr && es >= de, lit("es"))
      .when(fr >= de, lit("fr"))
      .otherwise(lit("de"))
  }

  /** Mixed-language detection: language-ID the first and second halves
    * of the token stream SEPARATELY — concatenated scrape artifacts and
    * template/content language splits disagree across halves, which a
    * whole-document vote hides. Returns struct(lang_a, lang_b); a doc
    * is suspect when they differ. Still a pure per-row projection,
    * zero shuffle. (Halves, not N chunks: two fixed evaluations keep
    * the cost flat; per-chunk IDs compose from [[chunkTokens]] +
    * [[langId]] when granularity matters.)
    */
  def langHalves(c: Column): Column = {
    val toks = tokens(c)
    // Column./ is double division — truncate back to the int slice arg
    val h = (size(toks) / 2).cast("int")
    // concat_ws never returns NULL, so NULL text must be re-nulled
    // explicitly: langId(NULL) is 'de' (every CASE arm null-skips) and
    // both the whole-doc langId and the SQL oracle agree on that —
    // without the guard a null doc would read as consistent ('en','en')
    // here and 'de' everywhere else
    def half(x: Column): Column =
      when(c.isNull, lit(null).cast("string")).otherwise(x)
    val a = half(concat_ws(" ", slice(toks, lit(1), h)))
    val b = half(concat_ws(" ", slice(toks, h + 1, size(toks) - h)))
    struct(langId(a).as("lang_a"), langId(b).as("lang_b"))
  }

  /** Composite quality score in [0,1]: length sweet-spot, alpha share,
    * bounded punctuation — the usual heuristic pre-filter before
    * expensive pipeline stages.
    */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / 200.0, lit(1.0))
    val alpha = alphaRatio(c)
    val punct = greatest(lit(0.0), lit(1.0) - punctRatio(c) * 10.0)
    round((lenScore + alpha + punct) / 3.0, 6)
  }

  /** PII-shaped substring patterns — deliberately RE2-compatible (no
    * lookaround, no backrefs) so the same pattern text runs under
    * Java's engine here and RE2-based engines (DuckDB, Go) in oracles
    * and downstream scrubbers.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Per-document PII pattern counts (emails, phone-shaped numbers,
    * IPv4 literals) — the pre-redaction audit scan. Pure regexp_count
    * projections: codegen'd, zero shuffle, linear in input bytes.
    */
  def piiEmailCount(c: Column): Column = regexp_count(c, lit(EmailRe))
  def piiPhoneCount(c: Column): Column = regexp_count(c, lit(PhoneRe))
  def piiIpv4Count(c: Column): Column = regexp_count(c, lit(Ipv4Re))

  /** PII redaction — every email/phone/IPv4 occurrence replaced by a
    * typed placeholder. Three nested regexp_replace calls (email
    * first: its local part can contain digit runs the other patterns
    * would otherwise bite into), all-occurrence semantics on both
    * engines (Spark default; DuckDB oracles must pass the 'g' flag).
    * Pure codegen'd projection — zero shuffle, linear in bytes; the
    * scrub step a corpus passes between the [[piiEmailCount]] audit
    * and export.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, lit(EmailRe), lit("<EMAIL>")),
        lit(PhoneRe), lit("<PHONE>")),
      lit(Ipv4Re), lit("<IP>"))

  /** Word n-grams WITH duplicates — unlike [[Dedup.shingles]], which
    * distincts (set semantics for MinHash). Repetition measures need the
    * multiset: the duplicates ARE the signal.
    */
  def wordNgrams(c: Column, n: Int): Column = {
    val ts = tokens(c)
    when(size(ts) >= n,
      transform(sequence(lit(0), size(ts) - n),
        i => concat_ws(" ", slice(ts, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Fraction of words taken by the single most frequent word (Gopher-
    * style repetition filter: boilerplate and keyword-stuffed pages
    * score high). One native O(words) hash pass per row
    * (`array_top_count`), zero shuffle — scales with input splits.
    */
  def topWordFrac(c: Column): Column = {
    val ws = tokens(c)
    when(size(ws) > 0,
      graft.functions.ArrayCounts.topCount(ws).cast("double") / size(ws))
      .otherwise(lit(0.0))
  }

  /** HOF formulation of [[topWordFrac]] — the executable spec the
    * native expression is parity-tested against (O(n·d) interpreted).
    */
  def topWordFracHof(c: Column): Column = {
    val ws = tokens(c)
    when(size(ws) > 0,
      array_max(transform(array_distinct(ws),
        w => size(filter(ws, x => x === w)))).cast("double") / size(ws))
      .otherwise(lit(0.0))
  }

  /** Fraction of word n-grams that are repeats of an earlier n-gram in
    * the same document (1 - distinct/total) — the duplicated-n-gram
    * family of quality filters. Native O(n) distinct count.
    */
  def dupNgramFrac(c: Column, n: Int): Column = {
    val gs = wordNgrams(c, n)
    when(size(gs) > 0,
      lit(1.0) - graft.functions.ArrayCounts.distinctCount(gs)
        .cast("double") / size(gs))
      .otherwise(lit(0.0))
  }

  /** HOF formulation of [[dupNgramFrac]] (parity spec). */
  def dupNgramFracHof(c: Column, n: Int): Column = {
    val gs = wordNgrams(c, n)
    when(size(gs) > 0,
      lit(1.0) - size(array_distinct(gs)).cast("double") / size(gs))
      .otherwise(lit(0.0))
  }

  /** Linear quality classifier: a fixed-weight linear model over the
    * per-row text features (the FastText-style quality-classifier
    * pipeline stage, with hand-set weights standing in for trained
    * ones — swap the weight map when a trained model exists). The raw
    * LINEAR score is returned rather than its sigmoid: the sigmoid is
    * monotone, so thresholding the linear score classifies identically,
    * and exp() differs across libm implementations in the last ulp
    * while the linear combination of rational features is bit-exact on
    * any IEEE engine. Zero shuffle, codegen'd, linear in input bytes.
    */
  def qualityClassifierScore(c: Column): Column = {
    val toks = tokenCount(c).cast("double")
    val stopRatio = stopwordScore(c, StopwordsEn).cast("double") /
      greatest(toks, lit(1.0))
    // weights: longer docs with natural stopword density and low
    // repetition score high; keyword stuffing drags the score down
    lit(-1.0) +
      least(toks / 100.0, lit(1.0)) * 1.5 +
      alphaRatio(c) * 1.0 +
      stopRatio * 4.0 -
      topWordFrac(c) * 3.0 -
      punctRatio(c) * 2.0
  }

  /** Document fingerprint: md5 of case- and whitespace-normalized text.
    * Stable across engines (SQL-expressible), used as the exact-dedup key.
    */
  def fingerprint(c: Column): Column =
    md5(lower(regexp_replace(trim(c), "\\s+", " ")))

  /** Corpus-unigram log-probability per document — the CCNet-style
    * perplexity-proxy quality signal (docs of rare gibberish score very
    * negative; docs of common words score near the corpus ceiling).
    * avg_logprob = Σ_t tf(t)·ln(cnt(t)/total) / Σ_t tf(t), where cnt is
    * the corpus unigram count. Output: (id, n_tokens, avg_logprob).
    *
    * Scale shape: one explode feeds BOTH the per-doc tf aggregate and
    * the corpus vocabulary; the score join runs on the DISTINCT
    * (doc, term) pairs (tf), not raw token occurrences, shuffled on the
    * term key — Zipf skew on hot terms is combiner-absorbed in the
    * vocab agg and AQE-split in the join. The corpus total is a single
    * broadcast scalar. Per-doc state is bounded by the doc's distinct
    * terms.
    */
  def unigramLogProb(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    // vocab is scanned twice (corpus total + score join) — scope-cache
    // it so the corpus is tokenized once per consumer of `terms`, not
    // once per vocab reference (vocab is |distinct terms| rows, tiny
    // next to the corpus at any scale). r17 NOTE: caching tf and
    // deriving the vocab from it (one explode instead of two) was
    // tried and MEASURED WORSE in-suite (x_text_logprob task 4.2 s →
    // 33 s, wall 1.4 → 2.1 s): the columnar cache build of the wide
    // (id, term, tf) frame costs more than the second explode+agg it
    // saves. Kept as-is deliberately.
    CacheScope.withCached(
      terms.groupBy("term").agg(count(lit(1)).as("cnt"))) { vocab =>
      val total = vocab.agg(sum(col("cnt")).as("total"))
      tf.join(vocab, "term")
        .crossJoin(broadcast(total))
        .select(col("id"), col("tf"),
          (col("tf") * log(col("cnt").cast("double") / col("total")))
            .as("lp"))
        .groupBy("id")
        .agg(sum(col("tf")).as("n_tokens"),
          (sum(col("lp")) / sum(col("tf"))).as("avg_logprob"))
    }
  }

  /** Sliding token-window chunking — the embedding/RAG preprocessing
    * step: each document's token stream becomes windows of `chunkSize`
    * tokens advancing by `chunkSize - overlap`, reassembled as text.
    * Output: (id, chunk_idx, chunk_text, n_tokens); empty docs yield no
    * chunks, a trailing partial window is kept.
    *
    * Shape: tokenize once into a REAL column, posexplode the start
    * offsets, then slice per chunk row — the start-offset generator
    * runs per row and the slice runs per chunk against a materialized
    * attribute. (A `transform(starts, st => slice(toks, ...))`
    * formulation would reference the tokenizer alias inside a lambda
    * body — the CollapseProject per-element re-evaluation trap, third
    * sighting; see [[bigrams]].) Zero shuffle, linear in corpus bytes.
    */
  def chunkTokens(
      df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int = 0): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need chunkSize > 0 and 0 <= overlap < chunkSize")
    val step = chunkSize - overlap
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("id"), col("__toks"),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(step)))
          .as(Seq("chunk_idx", "__st")))
      .select(col("id"), col("chunk_idx"),
        concat_ws(" ",
          slice(col("__toks"), col("__st") + 1, lit(chunkSize)))
          .as("chunk_text"),
        least(lit(chunkSize), size(col("__toks")) - col("__st"))
          .cast("long").as("n_tokens"))
  }

  /** Sliding word bigram multiset (NOT distinct — LM counting needs
    * every occurrence). Docs under 2 tokens yield an empty array.
    *
    * Built as zip_with over two slices, NOT `element_at(toks, i)` in a
    * transform lambda: CollapseProject substitutes the `toks` alias
    * into lambda bodies, and a lambda-body reference re-evaluates the
    * whole tokenizing split once per ELEMENT — O(n²) per doc (measured
    * 7× on the bigram scorer at sf0.1). zip_with's lambda only touches
    * its own arguments; `toks` is evaluated a constant number of times
    * per ROW.
    */
  def bigrams(c: Column): Column = {
    val toks = tokens(c)
    val n = greatest(size(toks) - 1, lit(0))
    zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
      (x, y) => struct(x.as("w1"), y.as("w2")))
  }

  /** Bigram conditional log-probability per document — one rung up the
    * LM ladder from [[unigramLogProb]]: avg over the doc's bigrams of
    * ln(c(w1,w2) / c1(w1)), where c counts corpus bigram occurrences
    * and c1(w1) = Σ_w2 c(w1,w2) (so each context's conditionals sum to
    * 1). Word-salad docs score low even when every individual word is
    * common — the fluency signal unigrams can't see. Docs with no
    * bigrams drop out. Output: (id, n_bigrams, avg_logprob).
    *
    * Same scale shape as the unigram scorer: the score join runs on
    * distinct (doc, bigram) pairs against the corpus bigram counts,
    * shuffled on the bigram key; the context totals reduce from the
    * bigram count frame (already distinct-key-sized), never a second
    * corpus pass.
    */
  def bigramLogProb(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = df.select(col(idCol).as("id"),
        explode(bigrams(col(textCol))).as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val tf = bg.groupBy("id", "w1", "w2").agg(count(lit(1)).as("tf"))
    // c2 feeds BOTH the context totals and the score join — scope-cache
    // it or the corpus explode re-runs once per reference (measured:
    // the uncached c1 branch alone re-paid the full explode+agg at sf1).
    // c2 is |distinct bigrams| rows — big on a web corpus but orders of
    // magnitude under the occurrence stream it summarizes. r17 NOTE:
    // caching tf and deriving c2 from it (one bigram explode instead
    // of two) was tried and MEASURED WORSE in-suite (x_text_bigram_lp
    // task 15.5 s → 47 s, wall 2.4 → 2.8 s) — the columnar cache build
    // of the (id, w1, w2, tf) frame costs more than the explode it
    // saves, same finding as [[unigramLogProb]]. Kept as-is.
    CacheScope.withCached(
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("cnt2"))) { c2 =>
      val c1 = c2.groupBy("w1").agg(sum(col("cnt2")).as("cnt1"))
      tf.join(c2, Seq("w1", "w2")).join(c1, "w1")
        .select(col("id"), col("tf"),
          (col("tf") * log(col("cnt2").cast("double") / col("cnt1")))
            .as("lp"))
        .groupBy("id")
        .agg(sum(col("tf")).as("n_bigrams"),
          (sum(col("lp")) / sum(col("tf"))).as("avg_logprob"))
    }
  }

  /** BM25 retrieval scoring (Robertson–Spärck Jones) of a FIXED query
    * term list against the corpus, top-`topN` documents by score —
    * the lexical-retrieval complement of the embedding top-k family
    * (hybrid search's sparse leg).
    *
    * Determinism treatment: the standard k₁ = 1.2, b = 0.75 BM25 with
    * every sub-expression kept RATIONAL in exact integers, so the
    * float work is a fixed chain of correctly-rounded IEEE ops any
    * engine reproduces bitwise (the [[graft.ext.Profile]] moment
    * discipline; the log-idf is replaced by its rational Robertson
    * form — same monotone-in-df ranking, no libm ulp exposure):
    *
    *   idf_t    = (2N − 2·df_t + 1) / (2·df_t + 1)
    *   tfpart_t = 22·tf·L / (10·tf·L + 3·L + 9·len·N)
    *     (tf·(k₁+1)/(tf + k₁(1−b+b·len/avglen)) with avglen = L/N,
    *      cross-multiplied by 10·L — one exact-integer numerator and
    *      denominator, ONE double division each)
    *   score    = Σ_t idf_t · tfpart_t   (fixed term order)
    *
    * Products accumulate in decimal(38,0) (HUGEINT on the oracle
    * side): tf·L long arithmetic would overflow past ~10⁹ corpus
    * tokens × realistic tf.
    *
    * Scale design: ONE corpus aggregate (N, L, per-term df — the term
    * list is a bounded literal) broadcast back as a single row; per-doc
    * tf is an in-codegen array filter, no explode, no shuffle of the
    * token stream; top-N by (score desc, id) rides the native
    * `bounded_top_k` aggregate — O(topN) map-side partial state, no
    * global sort, no single-partition window (the r7 cut TakeOrdered'd
    * then re-sorted the limited rows under a global `row_number`
    * window — a second sort plus the WindowExec single-partition
    * warning in every run log, for rows the aggregate already holds in
    * rank order). Docs matching no term are filtered before ranking.
    */
  def bm25TopK(docs: DataFrame, idCol: Column, textCol: Column,
      terms: Seq[String], topN: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(topN >= 1, s"bad topN $topN")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = docs.select(idCol.as("doc_id"),
        tokens(textCol).as("__toks"))
      .withColumn("__len", size(col("__toks")).cast("long"))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (d, (t, i)) =>
      d.withColumn(s"__tf_$i",
        size(filter(col("__toks"), x => x === t)).cast("long"))
    }
    val statAggs = Seq(count(lit(1)).as("__n"),
      sum(dec(col("__len"))).as("__l")) ++
      terms.indices.map(i =>
        sum(when(col(s"__tf_$i") > 0, 1L).otherwise(0L)).as(s"__df_$i"))
    val scored = withTf
      .crossJoin(broadcast(withTf.agg(statAggs.head, statAggs.tail: _*)))
      .withColumn("score", terms.indices.map { i =>
        val tf = col(s"__tf_$i")
        val df = col(s"__df_$i")
        val idf = (col("__n") * 2 - df * 2 + 1).cast("double") /
          (df * 2 + 1).cast("double")
        val tfl = dec(tf) * col("__l")
        val tfpart = (tfl * 22).cast("double") /
          (tfl * 10 + col("__l") * 3 + dec(col("__len")) * col("__n") * 9)
            .cast("double")
        when(tf > 0, idf * tfpart).otherwise(lit(0.0))
      }.reduce(_ + _))
      .filter(col("score") > 0)
    // bounded_top_k's total order (score desc, id asc) is exactly the
    // ranking contract; posexplode position IS the rank
    scored
      .agg(graft.functions.BoundedTopK.topk(
        col("score"), col("doc_id"), topN).as("__tk"))
      .select(posexplode(col("__tk")).as(Seq("__pos", "__p")))
      .select(col("__p.id").as("doc_id"),
        round(col("__p.score"), 12).as("score"),
        (col("__pos") + 1).cast("long").as("rank"))
  }

  /** CORPUS DRIFT MONITOR (round-16): a new batch's token
    * distribution against the corpus baseline over the corpus's
    * top-`k` tokens — the standing crawl-quality check a training
    * pipeline runs per ingest batch (a shifted topic mix, a new spam
    * source, or a broken extractor shows up as head-token mass
    * moving). Per token the reported deviation is
    * `|base_n × M − batch_n × N|` with N/M the two sides' total
    * counts over the top-k support — the cross-multiplied form of
    * `|p − q|` scaled by N×M, so every value is INTEGER-exact and the
    * DuckDB oracle reproduces it bit-for-bit (consumers divide by
    * N×M for the total-variation contribution). Scale shape: ONE
    * full wordcount (the baseline — a shuffle on token with map-side
    * combine), a driver-bounded top-k (TakeOrdered — k rows, never a
    * global sort), and then the batch side never touches its full
    * vocabulary: its exploded tokens are support-filtered through a
    * BROADCAST of the k-token head before counting, so the batch
    * aggregation shuffles at most k keys and the final join is
    * k-row × k-row. (The naive shape — left-joining the head against
    * full batch vocabulary counts — would broadcast or shuffle a
    * vocabulary-sized side at 100 TB.) No corpus×corpus anywhere.
    */
  def tokenDrift(baseDocs: DataFrame, batchDocs: DataFrame,
      textCol: String, k: Int): DataFrame =
    tokenDriftAgainst(tokenDriftHead(baseDocs, textCol, k), batchDocs,
      textCol)

  /** The STANDING baseline of the drift monitor: the corpus's top-`k`
    * tokens with their counts, cached (k rows) — computed once and
    * reused across every batch check, exactly like a standing dedup
    * index. The `(base_n desc, tok asc)` order is total, so the head
    * is deterministic under count ties.
    */
  def tokenDriftHead(baseDocs: DataFrame, textCol: String,
      k: Int): DataFrame = baseDocs
    .select(explode(tokens(col(textCol))).as("tok"))
    .groupBy("tok").agg(count(lit(1)).as("base_n"))
    .orderBy(col("base_n").desc, col("tok").asc).limit(k)
    .cache() // k rows — reused as the support filter and the join head

  /** One batch's drift table against a standing [[tokenDriftHead]].
    *
    * The two totals are computed EAGERLY and baked in as literals —
    * deliberately NOT by caching the k-row join for a second totals
    * pass: a standing monitor ([[graft.streaming.StreamingValidate
    * .tokenDriftMonitorStream]]) calls this once per micro-batch, and
    * a per-call cache that nobody unpersists accumulates in the block
    * manager for the monitor's lifetime (round-16 ADVICE). The cost
    * is one extra evaluation of the bounded batch-side count (the
    * batch is a micro-batch; the base side stays free — the head is
    * the standing cache); the returned frame's plan keeps the
    * broadcast support-filter shape PlanSpec pins.
    */
  def tokenDriftAgainst(head: DataFrame, batchDocs: DataFrame,
      textCol: String): DataFrame = {
    val batchN = batchDocs
      .select(explode(tokens(col(textCol))).as("tok"))
      .join(broadcast(head.select("tok")), Seq("tok"))
      .groupBy("tok").agg(count(lit(1)).as("batch_n"))
    val joined = head.join(batchN, Seq("tok"), "left")
      .na.fill(0L, Seq("batch_n"))
    val t = joined.agg(sum("base_n").cast("long"),
      sum("batch_n").cast("long")).head
    val nBase = if (t.isNullAt(0)) 0L else t.getLong(0)
    val nBatch = if (t.isNullAt(1)) 0L else t.getLong(1)
    joined
      .select(col("tok"), col("base_n"), col("batch_n"),
        abs(col("base_n") * lit(nBatch) -
          col("batch_n") * lit(nBase)).as("dev"),
        lit(nBase).as("n_base"), lit(nBatch).as("n_batch"))
  }
}
