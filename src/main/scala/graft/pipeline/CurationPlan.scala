package graft.pipeline

import graft.text.{MinHashConfig, MinHashDedup, QualityClassifier, SubstringDedup}

/** The decontamination stage of a curation release — the unified X90
  * report's channels against one benchmark: verbatim `n`-gram fraction
  * (drop at ≥ `ngramThreshold`), MinHash near-dup under `dedup`,
  * embedding cosine (drop at ≥ `cosThreshold`) and, when
  * `maxSpanTokens` is set, the X96 longest-verbatim-span rule. Shared
  * by the batch report, the batch manifests and the streaming gates,
  * so one value configures every decon channel everywhere (the
  * stand-alone gate stream has no span channel and refuses
  * `maxSpanTokens`).
  */
final case class DeconConfig(
    n: Int = 5,
    ngramThreshold: Double = 0.2,
    dedup: MinHashConfig = MinHashConfig(threshold = 0.5),
    cosThreshold: Double = 0.35,
    maxSpanTokens: Option[Int] = None)

/** Stage 0 of a curation release: exact substring-level dedup
  * ([[graft.text.SubstringDedup]]) CUTS duplicated `windowTokens`-token
  * spans from the corpus text before any verdict stage runs.
  *
  *  - `hashWindowKeys` makes the stage-0 shuffle carry 8-byte hashes
  *    instead of window text (set it at scale; output unchanged). The
  *    streaming cut always hashes and refuses the flag;
  *  - `normalizeFirst` adds stage −1, CCNet normalization of corpus
  *    AND benchmark, so every fingerprint sees one canonical form;
  *  - `charTokens` windows and cuts spaceless-script docs at
  *    code-point granularity;
  *  - `runLevel` SUBSUMES `charTokens`: embedded ≥16-cp non-ASCII runs
  *    dedup at code-point granularity across the homogeneous/mixed
  *    boundary, then word spans cut over the spliced text.
  */
final case class SpanCut(
    windowTokens: Int = 10,
    hashWindowKeys: Boolean = false,
    normalizeFirst: Boolean = false,
    charTokens: Boolean = false,
    runLevel: Boolean = false) {
  require(!(runLevel && charTokens),
    "runLevel subsumes charTokens (homogeneous docs keep the char-unit " +
      "path; mixed docs add the run tier) — set exactly one")
}

/** One composed curation release as a value: decontaminate → (opt)
  * frozen quality gate → near-dup star → perplexity gate → mixture,
  * with the optional `spanCut` stage 0 in front. Every batch entry
  * point ([[TrainingSet.curationManifest]], [[TrainingSet.curateCorpus]],
  * [[graft.GraftEngine]]) takes it, the streaming drivers take its
  * `decon`/`corpusDedup`/`spanCut` parts, and the defaults here are the
  * only place the release's defaults are written.
  *
  *  - `corpusDedup` — the near-dup stage's MinHash config (its
  *    `maxBucket` also sizes the audit's capped-bucket exposure);
  *  - `pplBuckets` — CCNet perplexity buckets; the tail bucket drops;
  *  - `mixtureStrata`/`mixtureAlpha` — the n^alpha temperature mixture;
  *  - `seed` — the mixture coins and the training order;
  *  - `qualityModel` — the frozen classifier and its keep threshold;
  *  - `minIdDedupWinners` — the pairwise min-id winner rule (what the
  *    incremental streaming ingest realizes) instead of X78 starring.
  *
  * Two plans are equal iff they run the same stages under the same
  * configs (a quality model compares by reference), and [[stampKey]]
  * renders the plan as the key of its persisted manifest.
  */
final case class CurationPlan(
    decon: DeconConfig = DeconConfig(),
    corpusDedup: MinHashConfig = MinHashConfig(),
    pplBuckets: Int = 3,
    mixtureStrata: String = "lang",
    mixtureAlpha: Double = 0.5,
    seed: Long = 42L,
    qualityModel: Option[(QualityClassifier.Model, Double)] = None,
    minIdDedupWinners: Boolean = false,
    spanCut: Option[SpanCut] = None) {
  require(pplBuckets >= 2, s"pplBuckets=$pplBuckets needs a droppable tail")

  /** The stage-chain fragment of [[stampKey]]: every parameter the
    * manifest content depends on, plus the manual manifest-assembly
    * version (`mv1`; bump on any semantic change to the stage chain).
    * A quality model renders only as set/unset. Optional flags render
    * only when ON, so stores keyed before they existed keep their keys.
    */
  def paramsKey: String = {
    def cfg(c: MinHashConfig): String =
      s"t${c.threshold}s${c.shingleSize}b${c.bands}h${c.numHashes}c${c.maxBucket}" +
        (if (c.charK > 0) s"k${c.charK}" else "") +
        (if (c.runLevel) "r1" else "")
    def bit(b: Boolean): String = if (b) "1" else "0"
    val s = spanCut.getOrElse(SpanCut())
    s"mv1:n${decon.n}:ng${decon.ngramThreshold}:cos${decon.cosThreshold}" +
      s":dedup${cfg(corpusDedup)}" +
      s":decon${cfg(decon.dedup)}" +
      s":ppl$pplBuckets:mix$mixtureStrata$mixtureAlpha" +
      s":seed$seed:minid${bit(minIdDedupWinners)}" +
      s":span${decon.maxSpanTokens.map(_.toString).getOrElse("-")}" +
      s":qm${if (qualityModel.isEmpty) "-" else "set"}" +
      s":norm${bit(s.normalizeFirst)}" +
      (if (s.charTokens) ":sct1" else "") +
      (if (s.runLevel) ":srl1" else "")
  }

  /** The persisted manifest's stamp key: the v1 (no stage 0) or v2
    * (span cut first) store, the semantic versions of the MinHash
    * signatures and — for v2 — of the substring cut and its window,
    * then [[paramsKey]]. A change to any of them re-keys the store.
    */
  def stampKey: String = spanCut match {
    case None =>
      s"manifest_v1:1:sig${MinHashDedup.SignatureVersion}:$paramsKey"
    case Some(s) =>
      s"manifest_v2:1:sub${SubstringDedup.AlgorithmVersion}" +
        s":sig${MinHashDedup.SignatureVersion}:w${s.windowTokens}:$paramsKey"
  }
}
