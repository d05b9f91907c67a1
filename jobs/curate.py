"""spark-submit entry point for the corpus-curation pipeline.

  spark-submit --py-files htmlx.zip jobs/curate.py \
      --input <documents table/parquet path> --output <keep-list root> \
      [--mode <a mode below, the keys of MODES; default filter>] [see --help]

A mode that needs a second input (decontaminate --eval-input, bpeencode
--bpe-model, imgtext --media-input, snapdiff --old-input, robotsfilter
--robots) exits with a usage error before Spark starts without it.

Modes:
  filter      full keep/drop decision per document with a precedence-
              ordered reason column (exact dup, then near dup, then under
              100 chars, then undetermined language) — what a
              training-data ingest actually consumes; runs
              analytics.corpus_filter under the (--hash-basis, 1024-doc
              LSH bucket cap, --threshold) policy.
  dedup       near-dup keep-list only (LSH -> exact-Jaccard verify ->
              connected components); with --pairs, a precomputed
              (doc_a, doc_b) pairs table replaces LSH + verify.
  split       deterministic train/val/test assignment by md5 id buckets
              (reproducible across engines and cluster sizes).
  decontaminate  flag docs sharing any 13-gram with the eval set at
              --eval-input (a parquet with a text column); eval grams
              broadcast, the corpus is never shuffled.
  pii         redact emails/IPv4s/long digit runs to typed tokens with
              per-kind counts (clean_text column).
  pack        next-fit sequence packing into --seq-len token bins,
              parallel across --pack-buckets hash buckets; with
              --bpe-model (or inline --bpe-train N) bins pack on EXACT
              BPE-encoded token counts instead of the whitespace proxy.
  bpetrain    train --bpe-train merges on the input corpus (Sennrich
              2016 recipe, deterministic ties) and write the full model
              (merges + alphabet tables) to --bpe-model-out — the
              train-once artifact every later pack/encode run uses.
  bpeencode   exact token-ID sequences per document under a persisted
              --bpe-model (rank-dict encoder, per-batch word cache):
              (doc_id, token_ids, n_tokens) — the bin CONTENT a
              training run consumes, pack_sequences' counts decide
              where the bins end.
  imgtext     (image, caption, quality) training-pair construction:
              --input = exploded images table (page_id, media_id, src,
              alt, title), --media-input = fetched (media_id, payload)
              bytes; caption fallback + UTF-8-byte/lang gates, one-pass
              decode, dHash near-dup keepers, precedence reason column.
  quality     published C4 + Gopher rule suites per document over real
              newline-split lines (gopher_pass / c4_pass columns plus
              every sub-signal) — scan-side, zero shuffle.
  spandedup   exact substring-span dedup (Lee et al. 2022): duplicated
              runs of >= --span-window tokens removed from all but their
              first occurrence; emits per-doc cleaned_text + stats
  paradedup   CCNet-style paragraph-level dedup keep-list: one row per
              distinct paragraph digest with keeper doc and count.
  exactdedup  exact-dedup table (one row per distinct text with the kept
              doc and duplicate count).
  imagededup  perceptual image dedup over a (media_id, payload) table:
              dHash via the in-repo decoders, then
              multimodal.perceptual_keepers: exact-hash buckets keep
              the MINIMUM media_id, then near-dup pairs within
              --hamming bits (banded LSH + XOR popcount) merge buckets
              via the same label-propagation used for text near-dups.
              Emits (media_id, dhash, keep_media_id, is_dup, error) —
              undecodable rows pass through with their error and are
              never dropped silently.
  embdedup    embedding-cosine near-dup keep-list over a (vec_id,
              embedding) table: exact block-pair BLAS pairs >= --threshold
              (or the IVF-bucketed approximate path via --emb-approx),
              then the shared label-propagation components; emits
              (vec_id, keep_vec_id, is_dup).
  audiodedup  perceptual AUDIO dedup, same pipeline over the envelope
              difference hash (audio_ehash via the in-repo WAV/AIFF/AU/
              FLAC decoders): volume- and resample-invariant duplicate
              clips collapse; emits (media_id, ehash, keep_media_id,
              is_dup, error).
  tempsample  temperature-based domain rebalancing: per-domain keep
              rates q_d ∝ n_d^alpha (--alpha, --group-col, optional
              --target-frac; default T never upsamples — the scarcest
              domain keeps 100%), thresholded by the deterministic md5
              bucket so assignments reproduce across engines/clusters.
  hostrank    host-level PageRank prior over a link-graph table at
              --input with columns (src_host, dst_host[, weight]):
              damped power iteration (--damping, --rank-iters) with uniform
              teleport and dangling-mass redistribution; emits
              (host, rank). Feed extract_links output aggregated to
              host pairs; join the rank back as a per-doc quality prior.
  anchorstats inlink anchor-text aggregation over a link table at
              --input with columns (src_url, dst_url, anchor_text):
              per target host, inlink count, distinct referring hosts,
              UTF-8 anchor bytes and empty-anchor count — the web
              endorsement prior. Cross-host links only unless
              --intra-host. Feed the extraction pipeline's link stage
              output; join back onto docs by host as a quality signal.
  hosttmpl    per-host template-line removal over (doc_id, url, text):
              a line present byte-identically in >= --tmpl-min-frac of a
              host's docs (and >= --tmpl-min-docs) is site template and
              is stripped from EVERY doc of that host (zero copies kept,
              unlike paragraph dedup's keep-one); emits doc_id,
              cleaned_text, n_lines, n_removed.
  snapdiff    crawl snapshot diff: --old-input is the previous snapshot,
              --input the new one (both (url, warc_ts, text, doc_id));
              per canonical URL emits added/removed/changed/unchanged +
              the latest capture's doc_id on each side, so downstream
              stages re-process only the delta.
  linkgraph   crawl link-graph construction over the EXTRACTION RESULTS
              table (url, links array): per-host-pair weighted edges,
              relative links resolved to the source host, rel=nofollow
              excluded (endorsement semantics); --intra-host keeps
              intra-site edges (the shape host_rank wants — pipe this
              output straight into --mode hostrank).
  langmix     per-line language mixing over (doc_id, text): each line
              past --min-line-chars classified with the SAME 27-language
              scan-side classifier as lang-ID; emits dominant_line_lang +
              dom_line_cnt/n_scored_lines/n_line_langs so multilingual
              curation can route or drop code-switched pages.
  perplexity  corpus-self-perplexity quality scoring: add-one char
              trigram model trained on the corpus itself, per-doc mean
              bits-per-trigram (tri_bits; high = atypical / garbled /
              wrong-language — the CCNet perplexity pillar, KenLM
              replaced by the self-contained corpus-trained model);
              head/middle/tail-partition downstream by tri_bits.
  robotsfilter  robots.txt (RFC 9309) compliance over the corpus:
              --robots is a per-host (host, robots_txt) parquet; per doc
              emits robots_allowed + matched_pattern under --user-agent
              group selection, longest-match precedence, allow-on-tie,
              fail-open for hosts without rules. Parsing touches only
              the host table; rule evaluation is JVM-side.
  metarobots  meta-robots compliance pre-filter over a raw pages table
              (doc_id, html[:binary]): one scan-side regex pass over the
              first 64 KB classifies noindex/nofollow ('none' shorthand,
              attribute-order and quoting variants tolerated); emits
              robots_content + noindex/nofollow + keep so noindex pages
              drop before any extraction cost is paid.
  urlfilter   RefinedWeb/UT1-style URL filtering over the url column:
              keep/drop + first-match reason (bad_scheme > url_too_long >
              blocked_host > blocked_keyword); --blocklist is a text file
              of hosts (one per line, '#' comments), matched on label
              boundaries so an entry blocks itself and all subdomains.
              The blocklist broadcasts; the corpus is a pure scan.
  pipeline    the staged end-to-end job a real corpus run is: urlfilter
              (when the input has a url column; --blocklist honored) ->
              quality -> exact dedup -> near-dup -> spandedup (opt-in
              via --spandedup; Lee-2022 substring spans, annotation
              stage) -> decontaminate (when --eval-input given) -> tempsample (opt-in via --temp;
              rates derive from the CLEANED counts) -> split -> pack,
              each stage materialized under --output with per-stage
              counts in audit.parquet and ONE resume manifest
              (_pipeline_manifest.json): re-running with the same
              --output skips completed stages.

Keep policy (exactdedup / paradedup / pipeline): by default the duplicate
with the MINIMUM doc_id survives; --keep-by <col> selects the survivor by
that ordering column instead (e.g. a crawl timestamp or quality score) and
--keep-desc keeps the highest value (newest/best). doc_id always breaks
ties deterministically.

Label propagation (dedup / filter / pipeline near_dedup)
always iterates to convergence (one scalar count() per two rounds).
"""

import argparse
import json
import os
import sys
from functools import partial
from typing import Callable, NamedTuple

from pyspark.sql import SparkSession, functions as F

from htmlx.spark import analytics, multimodal
from htmlx.spark.robotstxt import robots_filter, robots_table_from_pages
from htmlx.spark.warc import read_wet


def _bpe_token_counts(spark, docs, args):
    """(doc_id, n_tokens) under a trained BPE merges table, or None when
    no BPE flag is set (pack then bins on the whitespace proxy). The
    replace-chain encoder is the right plan for model-artifact-sized
    merge lists; past 64 merges the cached mapInPandas encoder wins."""
    byte_level = args.bpe_byte_level
    merges = None
    if args.bpe_model:
        merges, alphabet = analytics.load_bpe_model(spark, args.bpe_model)
        if alphabet is not None:
            byte_level = list(alphabet) == analytics.bpe_byte_alphabet()
    elif args.bpe_train:
        merges, alphabet = analytics.train_bpe_full(
            docs, num_merges=args.bpe_train, byte_level=byte_level
        )
        if args.bpe_model_out:
            analytics.save_bpe_model(spark, args.bpe_model_out, merges, alphabet)
    if not merges:
        return None
    method = "pandas" if (byte_level or len(merges) > 64) else "replace"
    return analytics.bpe_encode_counts(
        docs, merges, method=method, byte_level=byte_level
    ).withColumnRenamed("n_bpe_real", "n_tokens")


def verified_pairs(docs, args):
    """(doc_a, doc_b) near-dup pairs: MinHash-LSH candidates under
    --hash-basis, verified by exact shingle Jaccard >= --threshold."""
    cands = analytics.minhash_lsh_candidates(docs, hash_basis=args.hash_basis)
    return (
        analytics.ngram_jaccard_pairs(docs, cands)
        .where(F.col("jaccard") >= args.threshold)
        .select("doc_a", "doc_b")
    )


def read_blocklist(spark, path):
    """The (host) blocklist in the text file at `path`, one host per line,
    blank lines and '#' comments skipped; empty when there is no path."""
    if not path:
        return spark.createDataFrame([], "host string")
    return (
        spark.read.text(path)
        .select(F.trim("value").alias("host"))
        .where((F.col("host") != "") & ~F.col("host").startswith("#"))
    )


def _with_cleaned_text(df, override):
    """df with `text` replaced by override's (doc_id, cleaned_text) where
    override has a row for the doc."""
    return (
        df.join(override, "doc_id", "left")
        .withColumn("text", F.coalesce("cleaned_text", "text"))
        .drop("cleaned_text")
    )


def run_pipeline(spark, docs, args) -> dict:
    """The staged curation pipeline (VERDICT r5 item 7): the operators the
    CLI exposes individually, chained the way a real corpus run chains
    them, with resume.

    Scale design: every stage materializes a THIN keep-list/annotation
    parquet (doc_id + stage columns) under --output, never a rewritten
    copy of the corpus — at 100 TB that is N cheap doc_id-keyed joins
    against the one immutable documents table instead of N corpus
    rewrites. Stages commit write-then-manifest (the io.ParquetTableIO
    contract): a crash leaves the running stage uncommitted and a re-run
    with the same --output resumes after the last completed stage.
    Per-stage in/dropped/out counts land in <output>/audit.parquet."""
    root = args.output
    os.makedirs(root, exist_ok=True)
    mpath = os.path.join(root, "_pipeline_manifest.json")
    manifest = {"completed": {}}
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)

    def save_manifest():
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, mpath)  # atomic on POSIX

    def stage(name, build, docs_in: int, annotation: bool = False):
        """Materialize one stage (unless already committed) and return
        (its output frame read back from parquet, its docs_out).
        annotation=True marks a stage that REWRITES rows instead of
        dropping them (e.g. template removal): docs_out stays docs_in
        (the audit shows zero drops) and the touched-row count is
        recorded separately."""
        if name not in manifest["completed"]:
            path = os.path.join(root, f"stage_{name}.parquet")
            build().write.mode("overwrite").parquet(path)
            touched = spark.read.parquet(path).select("doc_id").distinct().count()
            manifest["completed"][name] = {
                "path": path, "docs_in": docs_in,
                "docs_out": docs_in if annotation else touched,
            }
            if annotation:
                manifest["completed"][name]["docs_touched"] = touched
            save_manifest()
        info = manifest["completed"][name]
        return spark.read.parquet(info["path"]), info["docs_out"]

    base = docs  # immutable corpus, plus any annotation-stage overrides

    def survivors(keep):
        # thin doc_id-keyed join against the immutable input table; AQE
        # broadcasts the keep-list when it is small enough
        return base.join(keep.select("doc_id"), "doc_id")

    if "n_input" not in manifest:
        manifest["n_input"] = docs.count()
        save_manifest()
    n_cur = manifest["n_input"]
    cur = docs
    executed = []

    # robots.txt compliance runs FIRST when a robots table is supplied
    # (it needs no text scan and is a legal gate, not a quality one).
    # With --robots-from-pages (and no explicit --robots) the rule table
    # is derived from the crawl's OWN /robots.txt captures inside the
    # input table (r7 VERDICT item 5) — the fetch-status fail-closed
    # policy included, since robots_table_from_pages carries the capture
    # status through.
    derive_robots = (
        args.robots_from_pages and not args.robots and "html" in docs.columns
    )
    if (args.robots or derive_robots) and "url" in docs.columns:

        def robots_keep():
            if derive_robots:
                path = F.coalesce(
                    F.nullif(
                        F.regexp_extract(
                            F.col("url"),
                            r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)",
                            1,
                        ),
                        F.lit(""),
                    ),
                    F.lit("/"),
                )
                caps = docs.where(path == "/robots.txt")
                rb = robots_table_from_pages(
                    caps,
                    status_col="http_status" if "http_status" in docs.columns else None,
                    ts_col="warc_ts" if "warc_ts" in docs.columns else None,
                )
            else:
                rb = spark.read.parquet(args.robots)
            return (
                robots_filter(
                    cur,
                    rb,
                    user_agent=args.user_agent,
                    status_col="status" if derive_robots else None,
                )
                .where("robots_allowed")
                .select("doc_id")
            )

        keep, n_cur = stage("robots", robots_keep, n_cur)
        cur = survivors(keep)
        executed.append("robots")

    # URL filtering runs next (still no text scan) when the corpus
    # carries a url column — the cheapest drops a crawl pipeline makes.
    if "url" in docs.columns:

        def url_keep():
            bl = read_blocklist(spark, args.blocklist)
            return analytics.url_filter(cur, bl).where("keep").select("doc_id")

        keep, n_cur = stage("urlfilter", url_keep, n_cur)
        cur = survivors(keep)
        executed.append("urlfilter")

    # per-host template-line removal BEFORE quality scoring and dedup:
    # template lines distort line-based quality rules and mask exact
    # duplicates. Annotation stage — it rewrites text, drops nothing.
    # The stage parquet holds cleaned_text ONLY for touched docs (thin:
    # untouched docs keep flowing from the immutable table), and the
    # override is folded into `base` so every later survivors() join
    # sees the cleaned text too.
    if args.hosttmpl and "url" in docs.columns:

        def tmpl_build():
            return (
                analytics.host_template_lines(
                    cur,
                    min_docs=args.tmpl_min_docs,
                    min_frac=args.tmpl_min_frac,
                )
                .where(F.col("n_removed") > 0)
                .select("doc_id", "cleaned_text", "n_removed")
            )

        ov, n_cur = stage("hosttmpl", tmpl_build, n_cur, annotation=True)
        override = ov.select("doc_id", "cleaned_text")
        base = _with_cleaned_text(base, override)
        cur = _with_cleaned_text(cur, override)
        executed.append("hosttmpl")

    if args.quality_rule != "none":
        cond = {
            "gopher": F.col("gopher_pass"),
            "c4": F.col("c4_pass"),
            "both": F.col("gopher_pass") & F.col("c4_pass"),
        }[args.quality_rule]
        keep, n_cur = stage(
            "quality",
            lambda: analytics.c4_gopher_quality(cur).where(cond).select("doc_id"),
            n_cur,
        )
        cur = survivors(keep)
        executed.append("quality")

    keep, n_cur = stage(
        "exact_dedup",
        lambda: analytics.dedup_exact(cur, keep_by=args.keep_by, descending=args.keep_desc)
        .select(F.col("keep_doc_id").alias("doc_id")),
        n_cur,
    )
    cur = survivors(keep)
    executed.append("exact_dedup")

    def near_keep():
        comp = analytics.near_dup_components(cur, verified_pairs(cur, args))
        return comp.where(~F.col("is_dup")).select("doc_id")

    keep, n_cur = stage("near_dedup", near_keep, n_cur)
    cur = survivors(keep)
    executed.append("near_dedup")

    # exact substring-SPAN dedup (Lee 2022) AFTER the doc-level dedups
    # (whole-doc dups are already gone, so the span pass only pays for
    # partial overlaps) and BEFORE decontamination (eval 13-grams must
    # be checked against the text that will actually ship). Annotation
    # stage like hosttmpl: rewrites text, drops nothing; the thin
    # (doc_id, cleaned_text) override folds into base so every later
    # stage and the final output see the span-deduped text.
    if args.spandedup_stage:

        def span_build():
            return (
                analytics.dedup_spans(
                    cur,
                    w=args.span_window,
                    hash_basis=args.hash_basis,
                    max_occurrences=args.span_max_occurrences,
                )
                .where(F.col("tokens_removed") > 0)
                .select("doc_id", "cleaned_text", "tokens_removed")
            )

        ov, n_cur = stage("spandedup", span_build, n_cur, annotation=True)
        override = ov.select("doc_id", "cleaned_text")
        base = _with_cleaned_text(base, override)
        cur = _with_cleaned_text(cur, override)
        executed.append("spandedup")

    if args.eval_input:
        ev = spark.read.parquet(args.eval_input)
        keep, n_cur = stage(
            "decontaminate",
            lambda: analytics.decontaminate(cur, ev, hash_basis=args.hash_basis)
            .where(~F.col("contaminated"))
            .select("doc_id"),
            n_cur,
        )
        cur = survivors(keep)
        executed.append("decontaminate")

    # mixture rebalancing AFTER cleaning/dedup (rates derive from the
    # cleaned counts) and BEFORE the split, opt-in via --temp
    if args.temp:
        keep, n_cur = stage(
            "tempsample",
            lambda: analytics.temperature_sample(
                cur,
                group_col=args.group_col,
                alpha=args.alpha,
                target_frac=args.target_frac,
            )
            .where("sample_keep")
            .select("doc_id"),
            n_cur,
        )
        cur = survivors(keep)
        executed.append("tempsample")

    split_df, _ = stage("split", lambda: analytics.hash_split(cur), n_cur)
    executed.append("split")

    train = cur.join(
        split_df.where(F.col("split") == "train").select("doc_id"), "doc_id"
    )
    _, n_packed = stage(
        "pack",
        lambda: analytics.pack_sequences(
            train,
            seq_len=args.seq_len,
            num_buckets=args.pack_buckets,
            counts=_bpe_token_counts(spark, train, args),
            eod_tokens=args.eod_tokens,
        ),
        n_cur,
    )
    executed.append("pack")

    rows = []
    for i, name in enumerate(executed):
        info = manifest["completed"][name]
        rows.append(
            (i, name, info["docs_in"], info["docs_in"] - info["docs_out"],
             info["docs_out"], None)
        )
    if args.wet_ab:
        # extraction-quality drift monitored WHERE curation runs: compare
        # the input corpus text against the crawl's published WET text
        # and land the coverage/F1 report row in the same audit table the
        # stage drops use (full one-row report parquet alongside).
        # docs_in = urls compared, docs_out = urls present on both sides.
        if "url" not in docs.columns:
            raise ValueError("--wet-ab needs a url column on the input table")
        rep = analytics.wet_ab_report(
            docs.select("url", "text"), read_wet(spark, args.wet_ab)
        )
        # collect the one-row report FIRST and write the collected row:
        # write-then-collect would execute the corpus-scale comparison
        # twice (r9 review)
        row = rep.collect()[0]
        spark.createDataFrame([row], rep.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "wet_ab_report.parquet"))
        r = row.asDict()
        note = json.dumps(
            {k: (round(v, 4) if isinstance(v, float) else v) for k, v in r.items()},
            sort_keys=True,
        )
        rows.append(
            (len(rows), "wet_ab", r["n_urls"], r["n_urls"] - r["n_both"],
             r["n_both"], note)
        )
    audit = spark.createDataFrame(
        rows,
        "stage_idx int, stage string, docs_in long, docs_dropped long, "
        "docs_out long, note string",
    )
    audit.coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "audit.parquet"))
    return manifest


def _dedup(spark, docs, args):
    pairs = (
        spark.read.parquet(args.pairs) if args.pairs else verified_pairs(docs, args)
    )
    return analytics.near_dup_components(docs, pairs)


def _bpetrain(spark, docs, args):
    merges, alphabet = analytics.train_bpe_full(
        docs, num_merges=args.bpe_train or 1000, byte_level=args.bpe_byte_level,
    )
    if args.bpe_model_out:
        analytics.save_bpe_model(spark, args.bpe_model_out, merges, alphabet)
    return analytics.bpe_merges_df(spark, merges)


def _bpeencode(spark, docs, args):
    # exact token-ID sequences (what a training run consumes) under a
    # persisted model; requires the full model layout (alphabet too)
    merges, alphabet = analytics.load_bpe_model(spark, args.bpe_model)
    if alphabet is None:
        raise ValueError("--mode bpeencode needs a full model dir "
                         "(merges.parquet + alphabet.parquet; see bpetrain)")
    return analytics.bpe_encode_ids(docs, merges, alphabet)


def _imgtext(spark, images, args):
    # (image, caption, quality) training-pair construction: --input is
    # the exploded images table (page_id, media_id, src, alt, title),
    # --media-input the fetched (media_id, payload) bytes
    media = spark.read.parquet(args.media_input)
    out = multimodal.image_text_pairs(
        images,
        media,
        min_caption_bytes=args.min_caption_bytes,
        max_caption_bytes=args.max_caption_bytes,
        max_hamming=args.hamming,
        allow_langs=tuple(args.allow_langs.split(",")),
    )
    if not args.emit_pairs:
        return out
    # materialize the training dataset FROM THE WRITTEN OUTPUT: building
    # it from `out` would re-execute the decode + dedup pipeline a second
    # time (the wet-ab write-twice class). Write the annotation table
    # once, read it back for the kept rows and join payloads once.
    out.write.mode("overwrite").parquet(args.output)
    kept = spark.read.parquet(args.output).where("keep")
    (kept.select("page_id", "media_id", "src", "caption",
                 "caption_lang", "width", "height")
         .join(media, "media_id")
         .write.mode("overwrite")
         .parquet(args.emit_pairs))
    print(f"mode=imgtext rows={spark.read.parquet(args.output).count()} -> "
          f"{args.output} (+pairs -> {args.emit_pairs})")
    return None


def _paradedup(spark, docs, args):
    extra = (args.keep_by,) if args.keep_by else ()
    return analytics.dedup_paragraphs(
        analytics.split_paragraphs(docs, extra_cols=extra),
        keep_by=args.keep_by, descending=args.keep_desc, normalize=args.normalize,
    )


def _payloads(media):
    """The (media_id, payload) columns of a media table; a doc_id column
    stands in for a missing media_id."""
    if "media_id" not in media.columns and "doc_id" in media.columns:
        media = media.withColumnRenamed("doc_id", "media_id")
    return media.select("media_id", "payload")


def _perceptual_dedup(hcol, spark, hashes, args):
    """Keepers over the decoded (media_id, <hcol>, error) frame, which
    feeds the representative groupBy, the keeper join and the error
    passthrough; undecodable rows pass through with their error."""
    ok = hashes.where(F.col("error") == "")
    keepers = multimodal.perceptual_keepers(
        ok.select("media_id", hcol), hcol, args.hamming
    )
    resolved = ok.join(keepers, hcol).select(
        "media_id", hcol, "keep_media_id",
        (F.col("media_id") != F.col("keep_media_id")).alias("is_dup"),
        F.lit("").alias("error"),
    )
    failed = hashes.where(F.col("error") != "").select(
        "media_id", hcol,
        F.col("media_id").alias("keep_media_id"),
        F.lit(False).alias("is_dup"), "error",
    )
    return resolved.unionByName(failed)


def _embdedup(spark, docs, args):
    # exact block-pair BLAS by default, --emb-approx switches to the
    # IVF-bucketed path (~num_centroids x less pair work, recall measured
    # in test_ann.py). Same components machinery as every other near-dup
    # family.
    if args.emb_approx:
        raw_pairs = analytics.embedding_near_dup_ivf(
            docs, threshold=args.threshold, num_centroids=args.emb_centroids,
        )
    else:
        raw_pairs = analytics.embedding_near_dup(docs, threshold=args.threshold)
    pairs = raw_pairs.select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comp = analytics.near_dup_components(
        docs.select(F.col("vec_id").cast("long").alias("doc_id")), pairs
    )
    return comp.select(
        F.col("doc_id").alias("vec_id"),
        F.col("keep_doc_id").alias("keep_vec_id"),
        "is_dup",
    )


def _perplexity(spark, docs, args):
    # train-once / score-many (the CCNet shape): --perplexity-model scores
    # against a saved reference model; --perplexity-model-out additionally
    # persists the model trained on THIS corpus
    model = (
        spark.read.parquet(args.perplexity_model) if args.perplexity_model else None
    )
    if args.perplexity_model_out:
        analytics.train_char_trigram(docs).write.mode("overwrite").parquet(
            args.perplexity_model_out
        )
        if model is None:
            model = spark.read.parquet(args.perplexity_model_out)
    return analytics.char_trigram_perplexity(docs, model=model)


def _pipeline(spark, docs, args):
    manifest = run_pipeline(spark, docs, args)
    done = ", ".join(f"{s}:{v['docs_out']}" for s, v in manifest["completed"].items())
    print(f"mode=pipeline in={manifest['n_input']} {done} -> {args.output}")
    return None


class Mode(NamedTuple):
    """One --mode. build(spark, docs, args) returns the frame main writes
    to --output, or None when the mode wrote --output itself. `needs`
    names the option (its argparse dest) the mode cannot run without;
    main rejects a missing one before it starts Spark. `held` builds,
    from the input, a frame the write reads more than once: main
    persists it, hands it to build in place of the input, and releases
    it after the write."""

    build: Callable
    needs: str | None = None
    held: Callable | None = None


MODES = {
    "filter": Mode(lambda spark, docs, args: analytics.corpus_filter(
        docs, {"production": (args.hash_basis, analytics.LSH_MAX_BUCKET)},
        args.threshold,
    ).drop("variant")),
    "dedup": Mode(_dedup),
    "split": Mode(lambda spark, docs, args: analytics.hash_split(docs)),
    "decontaminate": Mode(
        lambda spark, docs, args: analytics.decontaminate(
            docs, spark.read.parquet(args.eval_input), hash_basis=args.hash_basis
        ),
        needs="eval_input",
    ),
    "pii": Mode(lambda spark, docs, args: analytics.pii_scrub(docs)),
    "pack": Mode(lambda spark, docs, args: analytics.pack_sequences(
        docs,
        seq_len=args.seq_len,
        num_buckets=args.pack_buckets,
        counts=_bpe_token_counts(spark, docs, args),
        eod_tokens=args.eod_tokens,
    )),
    "bpetrain": Mode(_bpetrain),
    "bpeencode": Mode(_bpeencode, needs="bpe_model"),
    "imgtext": Mode(_imgtext, needs="media_input"),
    "quality": Mode(lambda spark, docs, args: analytics.c4_gopher_quality(docs)),
    "spandedup": Mode(lambda spark, docs, args: analytics.dedup_spans(
        docs, w=args.span_window, hash_basis=args.hash_basis,
        max_occurrences=args.span_max_occurrences,
    )),
    "paradedup": Mode(_paradedup),
    "exactdedup": Mode(lambda spark, docs, args: analytics.dedup_exact(
        docs, keep_by=args.keep_by, descending=args.keep_desc,
        normalize=args.normalize,
    )),
    # the decode is read three times by the write: decode each payload once
    "imagededup": Mode(
        partial(_perceptual_dedup, "dhash"),
        held=lambda media: multimodal.extract_image_dhash(_payloads(media)),
    ),
    "embdedup": Mode(_embdedup),
    "audiodedup": Mode(
        partial(_perceptual_dedup, "ehash"),
        held=lambda media: multimodal.extract_audio_ehash(_payloads(media)),
    ),
    "tempsample": Mode(lambda spark, docs, args: analytics.temperature_sample(
        docs, group_col=args.group_col, alpha=args.alpha,
        target_frac=args.target_frac,
    )),
    "hostrank": Mode(lambda spark, docs, args: analytics.host_rank(
        docs, damping=args.damping, iters=args.rank_iters,
        weight_col="weight" if "weight" in docs.columns else None,
    )),
    "anchorstats": Mode(lambda spark, docs, args: analytics.anchor_text_agg(
        docs, cross_host_only=not args.intra_host
    )),
    "hosttmpl": Mode(lambda spark, docs, args: analytics.host_template_lines(
        docs, min_docs=args.tmpl_min_docs, min_frac=args.tmpl_min_frac
    )),
    "snapdiff": Mode(
        lambda spark, docs, args: analytics.snapshot_diff(
            spark.read.parquet(args.old_input), docs
        ),
        needs="old_input",
    ),
    "linkgraph": Mode(lambda spark, docs, args: analytics.link_graph(
        docs, cross_host_only=not args.intra_host
    )),
    "langmix": Mode(lambda spark, docs, args: analytics.lang_mix_docs(
        docs, min_line_chars=args.min_line_chars
    )),
    "perplexity": Mode(_perplexity),
    "robotsfilter": Mode(
        lambda spark, docs, args: robots_filter(
            docs, spark.read.parquet(args.robots), user_agent=args.user_agent
        ),
        needs="robots",
    ),
    "metarobots": Mode(lambda spark, docs, args: analytics.meta_robots(docs)),
    "urlfilter": Mode(lambda spark, docs, args: analytics.url_filter(
        docs, read_blocklist(spark, args.blocklist)
    )),
    "pipeline": Mode(_pipeline),
}


def parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--pairs", default=None,
                    help="precomputed (doc_a, doc_b) pairs table (dedup mode; "
                         "default: LSH candidates + exact-Jaccard verify)")
    ap.add_argument("--mode", choices=list(MODES), default="filter")
    ap.add_argument("--media-input", default=None,
                    help="(media_id, payload) parquet (imgtext mode)")
    ap.add_argument("--min-caption-bytes", type=int,
                    default=multimodal.CAPTION_MIN_BYTES,
                    help="UTF-8 byte floor for captions (imgtext mode)")
    ap.add_argument("--max-caption-bytes", type=int,
                    default=multimodal.CAPTION_MAX_BYTES,
                    help="UTF-8 byte cap for captions (imgtext mode)")
    ap.add_argument("--allow-langs", default=",".join(multimodal.CAPTION_LANGS),
                    help="comma-separated caption languages to keep (imgtext mode)")
    ap.add_argument("--emit-pairs", default=None,
                    help="imgtext mode: also write the KEPT (caption, payload) "
                         "training pairs to this parquet path")
    ap.add_argument("--wet-ab", default=None,
                    help="pipeline mode: .warc.wet(.gz) dir to A/B the input "
                         "text against (warc.read_wet); the coverage/char-F1 "
                         "report row lands in audit.parquet as stage 'wet_ab' "
                         "with the full one-row report at wet_ab_report.parquet")
    ap.add_argument("--eval-input", default=None, help="eval-set parquet (decontaminate mode)")
    ap.add_argument("--blocklist", default=None,
                    help="host blocklist text file (urlfilter mode; optional)")
    ap.add_argument("--alpha", type=float, default=0.7,
                    help="temperature exponent (tempsample mode)")
    ap.add_argument("--target-frac", type=float, default=None,
                    help="target kept fraction of the corpus (tempsample mode)")
    ap.add_argument("--group-col", default="source",
                    help="domain column (tempsample mode)")
    ap.add_argument("--temp", action="store_true",
                    help="enable the temperature-rebalancing stage in pipeline mode")
    ap.add_argument("--hosttmpl", action="store_true",
                    help="enable the per-host template-line removal stage in pipeline mode")
    ap.add_argument("--spandedup", dest="spandedup_stage", action="store_true",
                    help="enable the exact substring-span dedup stage in "
                         "pipeline mode (annotation stage after the doc-level "
                         "dedups; --span-window/--span-max-occurrences apply)")
    ap.add_argument("--hamming", type=int, default=3,
                    help="near-dup Hamming bound (imagededup mode)")
    ap.add_argument("--emb-approx", action="store_true",
                    help="embdedup mode: IVF-bucketed approximate pairing "
                         "instead of exact block-pair BLAS")
    ap.add_argument("--emb-centroids", type=int, default=8,
                    help="embdedup --emb-approx: IVF centroid count "
                         "(pair work drops ~centroids-fold; recall drops "
                         "as near pairs straddle cell boundaries)")
    ap.add_argument("--min-line-chars", type=int, default=20,
                    help="langmix mode: evidence gate — lines shorter than "
                         "this many chars are not scored")
    ap.add_argument("--perplexity-model", default=None,
                    help="perplexity mode: score against this saved "
                         "(trigram, count) model parquet instead of "
                         "retraining on the scoring corpus")
    ap.add_argument("--perplexity-model-out", default=None,
                    help="perplexity mode: persist the model trained on "
                         "this corpus for later score-only runs")
    ap.add_argument("--intra-host", action="store_true",
                    help="count intra-host links too (anchorstats mode)")
    ap.add_argument("--robots", default=None,
                    help="per-host robots.txt parquet (host, robots_txt) for robotsfilter mode")
    ap.add_argument("--robots-from-pages", action="store_true",
                    help="pipeline mode: derive the robots rule table from the "
                         "crawl's own /robots.txt captures inside the input "
                         "table (needs url+html columns; honors http_status "
                         "fail-closed policy and warc_ts latest-capture when "
                         "present) instead of a separate --robots table")
    ap.add_argument("--user-agent", default="*",
                    help="product token for robots.txt group selection (robotsfilter)")
    ap.add_argument("--old-input", default=None,
                    help="previous snapshot parquet (snapdiff mode; --input is the new one)")
    ap.add_argument("--normalize", action="store_true",
                    help="hash the CCNet normalization (case/accent/digit/"
                         "punct fold) instead of raw bytes (exactdedup/paradedup)")
    ap.add_argument("--tmpl-min-docs", type=int, default=3,
                    help="template-line min doc count (hosttmpl mode)")
    ap.add_argument("--tmpl-min-frac", type=float, default=0.5,
                    help="template-line min host-doc fraction (hosttmpl mode)")
    ap.add_argument("--damping", type=float, default=0.85, help="hostrank damping factor")
    ap.add_argument("--rank-iters", type=int, default=3,
                    help="hostrank power-iteration rounds")
    ap.add_argument("--seq-len", type=int, default=2048, help="token bin size (pack mode)")
    ap.add_argument("--pack-buckets", type=int, default=256, help="parallel packing units (pack mode)")
    ap.add_argument("--eod-tokens", type=int, default=0,
                    help="separator tokens reserved per document in pack "
                         "bins (the <|endofdoc|> convention)")
    ap.add_argument("--bpe-model", default=None,
                    help="trained BPE merges parquet (rank/left/right); pack "
                         "bins on EXACT encoded token counts instead of the "
                         "whitespace proxy (pack mode / pipeline pack stage)")
    ap.add_argument("--bpe-train", type=int, default=0,
                    help="train this many BPE merges on the input corpus "
                         "(bpetrain mode, or inline for pack when no "
                         "--bpe-model is given)")
    ap.add_argument("--bpe-byte-level", action="store_true",
                    help="train/encode over UTF-8 BYTES via the GPT-2 "
                         "byte table: fixed 256-symbol alphabet, no UNK, "
                         "multilingual-safe (bpetrain/pack; bpeencode "
                         "auto-detects from the model alphabet)")
    ap.add_argument("--bpe-model-out", default=None,
                    help="write the trained merges table here (bpetrain "
                         "mode, or alongside inline --bpe-train)")
    ap.add_argument("--threshold", type=float, default=0.9, help="Jaccard verify threshold")
    ap.add_argument("--hash-basis", choices=["xxhash64", "md5"], default="xxhash64")
    ap.add_argument("--span-window", type=int, default=15,
                    help="minimum duplicated run length in tokens (spandedup mode)")
    ap.add_argument("--span-max-occurrences", type=int, default=None,
                    help="hot-key cap (spandedup mode): windows repeated more "
                         "than this many times are treated as template text "
                         "and NOT removed (see host-template removal); "
                         "default uncapped")
    ap.add_argument("--keep-by", default=None,
                    help="dedup keep policy: ordering column choosing the surviving "
                         "duplicate (default: minimum doc_id)")
    ap.add_argument("--keep-desc", action="store_true",
                    help="keep the HIGHEST --keep-by value (newest/best)")
    ap.add_argument("--quality-rule", choices=["gopher", "c4", "both", "none"],
                    default="gopher", help="pipeline-mode quality gate")
    return ap


def main(argv=None):
    ap = parser()
    args = ap.parse_args(argv)
    mode = MODES[args.mode]
    if mode.needs and vars(args)[mode.needs] is None:
        ap.error(f"--mode {args.mode} requires --{mode.needs.replace('_', '-')}")

    spark = SparkSession.builder.appName("htmlx-curate").getOrCreate()
    docs = spark.read.parquet(args.input)
    held = mode.held(docs).persist() if mode.held else None
    try:
        out = mode.build(spark, docs if held is None else held, args)
        if out is None:
            return
        out.write.mode("overwrite").parquet(args.output)
    finally:
        if held is not None:
            held.unpersist()
    print(f"mode={args.mode} rows={spark.read.parquet(args.output).count()} -> {args.output}")


if __name__ == "__main__":
    sys.exit(main())
