"""Semantic tests for text-analysis + multimodal operators."""

from pyspark.sql import functions as F

from tranquility_spark.operators import multimodal as mm
from tranquility_spark.operators import text as tx


def test_predict_lang_markers(spark):
    rows = [
        (1, "the cat and the dog of the house"),
        (2, "le chat et la maison et le chien"),
        (3, "der hund und die katze und der vogel"),
        (4, "el gato y los perros que corren"),
        (5, "xyzzy plugh quux"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["p"] for r in df.select("doc_id", tx.predict_lang(F.col("text")).alias("p")).collect()}
    assert out == {1: "en", 2: "fr", 3: "de", 4: "es", 5: "unk"}


def test_token_count_arithmetic(spark):
    df = spark.createDataFrame([(1, "a b c"), (2, "single"), (3, "")], "id long, text string")
    out = {r["id"]: r["n"] for r in df.select("id", tx.token_count(F.col("text")).alias("n")).collect()}
    assert out == {1: 3, 2: 1, 3: 0}


def test_quality_features_shape(spark):
    df = spark.createDataFrame([(1, "the quick brown fox and the dog")], "doc_id long, text string")
    row = tx.quality_features(df).first()
    assert row["n_tokens"] == 7
    assert 0.0 <= row["quality_score"] <= 1.0
    assert row["stopword_ratio"] > 0  # 'the' ×2 + 'and'


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["f"] for r in df.select("doc_id", tx.fingerprint_md5(F.col("text")).alias("f")).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_rolling_hash_deterministic_and_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "c b a")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["h"] for r in df.select("doc_id", tx.rolling_token_hash(F.col("text")).alias("h")).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]  # order-sensitive (rolling, not bag-of-words)


def test_multimodal_decode_plumbing(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "wider payload here")], "doc_id long, text string")
    media = mm.attach_binary_payload(df)
    # payload is real binary with typed metadata
    schema = dict(media.dtypes)
    assert schema["payload"] == "binary"
    out = {r["doc_id"]: r for r in mm.decode_image_features(media).collect()}
    assert out[1]["n_bytes"] == 3
    assert out[1]["width"] == 3 and out[1]["height"] == 21
    assert out[1]["checksum"] == sum(b"abc")
    assert out[2]["n_bytes"] == len("wider payload here")
    assert out[1]["media_type"] == "image/fake"


def test_resize_images_shape(spark, sf_dir):
    from tranquility_spark.operators.multimodal import attach_binary_payload, resize_images
    from tranquility_spark.sources.files import load_table

    media = attach_binary_payload(load_table(spark, sf_dir, "documents").limit(50))
    out = resize_images(media, target_width=8, target_height=4)
    rows = out.collect()
    assert len(rows) == 50
    assert all(len(r.payload) == 32 and r.width == 8 and r.height == 4 for r in rows)


def test_sample_frames_fanout_bounded(spark, sf_dir):
    from tranquility_spark.operators.multimodal import attach_binary_payload, sample_frames
    from tranquility_spark.sources.files import load_table
    from pyspark.sql import functions as F

    media = attach_binary_payload(load_table(spark, sf_dir, "documents").limit(50))
    out = sample_frames(media, every_ms=1000, max_frames=4)
    per_doc = out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert len(per_doc) == 50
    assert all(1 <= r.n <= 4 for r in per_doc)
    first = out.filter(F.col("frame_idx") == 0).count()
    assert first == 50  # every doc yields frame 0


def test_chunk_tokens_overlap_and_coverage(spark):
    """Token-aligned chunking: chunk k starts at k*stride; consecutive
    chunks share exactly chunk_size - stride tokens; every token appears in
    at least one chunk; no chunk splits a token (each chunk_text is a
    space-join of whole input tokens); empty docs emit one empty chunk."""
    words = [f"w{i}" for i in range(50)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "a b c"), (3, "   ")],
        "doc_id long, text string",
    )
    out = tx.chunk_tokens(df, chunk_size=32, stride=24)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    # doc 1: 50 tokens -> chunks at 0 and 24; chunk 1 already reaches the
    # end, so NO redundant chunk at 48 (its [48,50) coverage is a strict
    # subset of chunk 1's [24,50) — code-review r8)
    d1 = [rows[(1, i)] for i in range(2)]
    assert (1, 2) not in rows
    assert [r["start_tok"] for r in d1] == [0, 24]
    assert [r["n_toks"] for r in d1] == [32, 26]
    assert d1[0]["chunk_text"].split(" ") == words[0:32]
    assert d1[1]["chunk_text"].split(" ") == words[24:50]
    # the 8-token overlap: chunk 0's tail == chunk 1's head
    assert d1[0]["chunk_text"].split(" ")[24:] == d1[1]["chunk_text"].split(" ")[:8]
    # every token is covered
    covered = set()
    for r in d1:
        covered |= set(range(r["start_tok"], r["start_tok"] + r["n_toks"]))
    assert covered == set(range(50))
    # a doc one token past a window DOES open a new chunk with new coverage
    long = spark.createDataFrame(
        [(9, " ".join(f"t{i}" for i in range(57)))], "doc_id long, text string"
    )
    lrows = tx.chunk_tokens(long, chunk_size=32, stride=24).collect()
    assert [(r["chunk_id"], r["n_toks"]) for r in sorted(lrows, key=lambda r: r["chunk_id"])] == [
        (0, 32), (1, 32), (2, 9)
    ]
    # doc 2: shorter than one chunk -> single chunk, whole doc
    assert rows[(2, 0)]["chunk_text"] == "a b c" and rows[(2, 0)]["n_toks"] == 3
    # doc 3: whitespace-only -> one empty chunk (the txt3 [''] convention)
    assert rows[(3, 0)]["chunk_text"] == "" and rows[(3, 0)]["n_toks"] == 1
    import pytest

    with pytest.raises(ValueError):
        tx.chunk_tokens(df, chunk_size=0)


def test_txt18_zipf_slope_on_synthetic_zipf_corpus(spark, tmp_path):
    """On a corpus built to be exactly Zipfian (freq(r) = floor(600/r)),
    the fitted slope lands near -1, and the whole output row equals an
    independent Python replay of the regression (same 6-dp ln rounding,
    exact fraction sums standing in for the decimal accumulation)."""
    import math
    from fractions import Fraction

    from tranquility_spark.catalog import CATALOG

    freqs = {f"t{r:03d}": 600 // r for r in range(1, 251)}
    tokens = [t for t, n in freqs.items() for _ in range(n)]
    # deterministic spread over 25 docs (no RNG — order is irrelevant to
    # frequency counts)
    docs = [
        (i, " ".join(tokens[i::25]), "en", "src")
        for i in range(25)
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    row = CATALOG["txt18_zipf_audit"].fn(spark, str(tmp_path)).collect()[0]

    n_total = sum(freqs.values())
    assert row["n_tokens_total"] == n_total
    assert row["vocab_size"] == len(freqs)
    assert row["top_n"] == 200
    # independent replay: rank by (freq desc, token asc), top 200
    ranked = sorted(freqs.items(), key=lambda kv: (-kv[1], kv[0]))[:200]
    xs = [Fraction(round(math.log(r + 1), 6)).limit_denominator(10**6)
          for r in range(len(ranked))]
    ys = [Fraction(round(math.log(n), 6)).limit_denominator(10**6)
          for _t, n in ranked]
    k = len(xs)
    sx, sy = float(sum(xs)), float(sum(ys))
    sxy = float(sum(x * y for x, y in zip(xs, ys)))
    sxx = float(sum(x * x for x in xs))
    slope = round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
    assert row["zipf_slope"] == slope
    assert -1.15 <= row["zipf_slope"] <= -0.85, row["zipf_slope"]
    assert row["top1_share"] == round(600 / n_total, 6)


def test_txt12_bigram_logprob_hand_computed(spark, sf_dir, tmp_path):
    """Hand-checkable bigram LM: corpus 'a b a' + 'a b'.
    Bigrams: (a,b)x2, (b,a)x1. V=2. c1: a->2, b->1.
    P(b|a)=(2+1)/(2+2)=0.75; P(a|b)=(1+1)/(1+2)=2/3.
    doc1 sum = ln.75 + ln(2/3); doc2 sum = ln .75."""
    import math

    from tranquility_spark.catalog import CATALOG

    docs = spark.createDataFrame(
        [(1, "a b a", "en", "s", 5), (2, "a b", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path / "sf"
    d.mkdir()
    docs.write.parquet(str(d / "documents.parquet"))
    out = {
        r.doc_id: (r.sum_bigram_logprob, r.n_bigrams)
        for r in CATALOG["txt12_bigram_logprob"].fn(spark, str(d)).collect()
    }
    lp_ab = round(math.log(3 / 4), 6)
    lp_ba = round(math.log(2 / 3), 6)
    # the entry emits the exact decimal-accumulated SUM (not the mean — a
    # final mean division can land on a round-half boundary, see entry doc)
    assert out[1] == (round(lp_ab + lp_ba, 6), 2)
    assert out[2] == (lp_ab, 1)


def test_mm5_vision_cost_and_bin_start_invariant(spark, sf_dir):
    """Every 4th doc carries exactly one image whose vision tokens follow
    the patch-grid formula (>= 1, additive into seq_tokens); other docs
    cost pure text. Replaying the greedy packing per language confirms
    each doc's bin is the 8192-block its running-sum START offset lands
    in (the pack1 floor-start rule with the multimodal cost model)."""
    import collections

    from tranquility_spark.catalog import CATALOG

    rows = CATALOG["mm5_interleaved_packing"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.doc_id % 4 == 0:
            assert r.n_images == 1 and r.vision_tokens >= 1, r
        else:
            assert r.n_images == 0 and r.vision_tokens == 0, r
        assert r.seq_tokens == r.text_tokens + r.vision_tokens, r
    bylang = collections.defaultdict(list)
    for r in rows:
        bylang[r.lang].append(r)
    saw_multi_bin = False
    for rs in bylang.values():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.bin_id == cum // 8192, r
            cum += r.seq_tokens
        saw_multi_bin = saw_multi_bin or rs[-1].bin_id > 0
    assert saw_multi_bin  # the fixture actually exercises bin rollover


def test_pipe6_manifest_reconciles_with_samp8_and_packs_correctly(spark, sf_dir):
    """The manifest's admitted set must equal samp8's exactly (same
    budget rule), every shard's positions must be contiguous 1..n in
    ord_key order, and replaying each shard's running token sum must
    reproduce bin_id (pack1's start-within-budget rule)."""
    import collections

    from tranquility_spark.catalog import CATALOG

    manifest = CATALOG["pipe6_dataset_manifest"].fn(spark, sf_dir).collect()
    samp8 = {
        r.doc_id
        for r in CATALOG["samp8_token_budget_select"].fn(spark, sf_dir).collect()
    }
    assert {r.doc_id for r in manifest} == samp8
    byshard = collections.defaultdict(list)
    for r in manifest:
        byshard[r.shard].append(r)
    assert len(byshard) > 1
    for rs in byshard.values():
        rs.sort(key=lambda r: r.pos)
        assert [r.pos for r in rs] == list(range(1, len(rs) + 1))
        cum = 0
        for r in rs:
            assert r.bin_id == cum // 4096, r
            cum += r.n_tokens


def test_txt17_domain_reputation_reconciles_and_splits(spark, sf_dir):
    """Domain rows reconcile with the per-doc signals (Σ n_docs = corpus
    size, per-domain mean equals the recomputed mean of its docs'
    scores), and the keep threshold genuinely splits the fixture's
    domains — both decisions must occur."""
    import collections

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.operators.text import quality_features
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    per_doc = quality_features(docs, passthrough=("source",)).select(
        "source", "quality_score"
    ).collect()
    rows = {
        r.source: r
        for r in CATALOG["txt17_domain_reputation"].fn(spark, sf_dir).collect()
    }
    assert sum(r.n_docs for r in rows.values()) == len(per_doc)
    bysrc = collections.defaultdict(list)
    for r in per_doc:
        bysrc[r.source].append(r.quality_score)
    for src, scores in bysrc.items():
        assert rows[src].n_docs == len(scores)
        assert abs(rows[src].avg_quality - sum(scores) / len(scores)) < 1e-6
    decisions = {r.keep_domain for r in rows.values()}
    assert decisions == {0, 1}


def test_samp8_budget_select_is_the_greedy_prefix(spark, sf_dir):
    """Replaying the greedy rule in Python from the scored corpus must
    reproduce samp8's admitted set exactly: per language, docs in
    (quality desc, doc_id) order are admitted while the budget is not yet
    exhausted, the straddling doc is kept, and everything after is
    rejected. Every language must exercise BOTH outcomes."""
    import collections

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.catalog_llm import _SAMP8_BUDGET
    from tranquility_spark.operators.text import quality_features
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_features(docs, passthrough=("lang",)).select(
        "doc_id", "lang", "n_tokens", "quality_score"
    ).collect()
    bylang = collections.defaultdict(list)
    for r in scored:
        bylang[r.lang].append(r)
    expect = set()
    for lang, rs in bylang.items():
        rs.sort(key=lambda r: (-r.quality_score, r.doc_id))
        cum = 0
        admitted_all = True
        for r in rs:
            if cum < _SAMP8_BUDGET:
                expect.add(r.doc_id)
            else:
                admitted_all = False
            cum += r.n_tokens
        assert not admitted_all, f"{lang}: budget never bound"
    got = {
        r.doc_id
        for r in CATALOG["samp8_token_budget_select"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_samp7_curriculum_bands_quality_monotone_and_balanced(spark, sf_dir):
    """Within each language: epoch bands are nondecreasing as quality
    falls (a higher-scored doc never enters LATER than a lower-scored
    one), the best doc enters at epoch 0, every epoch in 0..3 is
    populated for non-tiny languages, and band sizes are quartile-shaped
    (within one of n/4). Determinism: ord_key is a pure function of
    doc_id, so two runs agree row-for-row."""
    import collections

    from tranquility_spark.catalog import CATALOG

    rows = CATALOG["samp7_curriculum_schedule"].fn(spark, sf_dir).collect()
    bylang = collections.defaultdict(list)
    for r in rows:
        bylang[r.lang].append(r)
    assert len(bylang) > 1
    for lang, rs in bylang.items():
        rs.sort(key=lambda r: (-r.quality_score, r.doc_id))
        epochs = [r.first_epoch for r in rs]
        assert epochs == sorted(epochs), lang
        assert epochs[0] == 0, lang
        if len(rs) >= 8:
            counts = collections.Counter(epochs)
            assert set(counts) == {0, 1, 2, 3}, lang
            lo = len(rs) // 4
            assert all(lo - 1 <= counts[e] <= lo + 2 for e in range(4)), (
                lang,
                counts,
            )
    again = CATALOG["samp7_curriculum_schedule"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_samp5_temperature_flattens_mixture(spark, sf_dir):
    """alpha=0.5 rebalance: the smallest stratum keeps ~100% (it binds the
    cap), kept counts track T*w_l, and the kept mixture is flatter than the
    input (head strata shrink toward sqrt-proportionality)."""
    import math

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_in = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept = CATALOG["samp5_temperature_resample"].fn(spark, sf_dir)
    n_out = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}

    sw = sum(math.sqrt(n) for n in n_in.values())
    t = min(n / (math.sqrt(n) / sw) for n in n_in.values())
    for lang, n in n_in.items():
        target = t * (math.sqrt(n) / sw)
        # hash thresholding is exact in expectation; allow small-sample slack
        assert abs(n_out.get(lang, 0) - target) <= max(6, 0.2 * target), lang
    # binding stratum (smallest n/sqrt(n) = smallest sqrt(n)) keeps everything
    binding = min(n_in, key=lambda l: n_in[l])
    assert n_out[binding] == n_in[binding]


def test_emb4_matryoshka_truncate_values(spark):
    from tranquility_spark.operators.embeddings import matryoshka_truncate

    df = spark.createDataFrame(
        [(1, [3.0] * 16 + [4.0] * 48), (2, [0.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in matryoshka_truncate(df, dims=16).collect()}
    # head energy = 16*9 = 144, full = 144 + 48*16 = 912
    assert out[1].trunc_l2 == 12.0
    assert out[1].energy_retained == round(144 / 912, 6)
    assert out[1].trunc_dims == 16
    # zero vector: NULL fraction, not an error (try_divide policy)
    assert out[2].trunc_l2 == 0.0
    assert out[2].energy_retained is None


def test_mm_oracles_byte_exact_on_non_ascii_corpus(spark):
    """Regression for the mm2/mm3 oracle fragility: the DuckDB oracles used
    to slice TEXT (char == byte only on ASCII); they now slice the hex
    encoding (2 ASCII chars per byte — exact on any corpus). Prove it on a
    multi-byte fixture the old oracles would get wrong."""
    import duckdb

    import __spark_entry__ as ent

    rows = [
        (1, "héllo wörld — ünïcode payload with çombining marks"),
        (2, "日本語のテキストとemoji 🎉🚀 mixed in"),
        (3, "plain ascii control"),
        (4, "ß" * 400),  # long multi-byte-only doc exercises tiling
    ]
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS t(doc_id, text)"
    )
    sdf = spark.createDataFrame(rows, "doc_id long, text string")

    from tranquility_spark.operators import multimodal as mm2mod

    oracles = ent.oracle_sql()
    # mm2: frame hex slices
    media = mm2mod.attach_binary_payload(sdf)
    frames = mm2mod.sample_frames(media, every_ms=1000, max_frames=8).select(
        "doc_id", "frame_idx", "frame_ts_ms", F.hex("payload").alias("frame_hex")
    )
    got = sorted(map(tuple, frames.collect()))
    want = sorted(map(tuple, con.sql(oracles["mm2_frame_sample"]).fetchall()))
    assert got == want
    # mm3: tiled-payload md5
    resized = mm2mod.resize_images(media, 224, 224).select(
        "doc_id",
        "width",
        "height",
        F.md5(F.hex("payload")).alias("payload_md5"),
        F.octet_length("payload").alias("n_bytes"),
    )
    got3 = sorted(map(tuple, resized.collect()))
    want3 = sorted(map(tuple, con.sql(oracles["mm3_resize"]).fetchall()))
    assert got3 == want3


def test_quality_filter_verdict_and_flags(spark):
    from tranquility_spark.operators.text import quality_filter

    good = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    spammy = " ".join(["buy now"] * 40)
    tiny = "too short"
    df = spark.createDataFrame(
        [(1, good), (2, spammy), (3, tiny)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in quality_filter(df, min_tokens=10).collect()}
    assert rows[1].keep is True
    assert rows[2].keep is False and rows[2].pass_repetition is False
    assert rows[3].keep is False and rows[3].pass_token_count is False


def test_boilerplate_ngrams_short_docs_and_min_df(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),      # grams: "a b c d e", "b c d e f"
            (2, "a b c d e"),        # gram:  "a b c d e"
            (3, "x y"),              # < 5 words -> no grams
            (4, ""),                 # empty -> no grams
        ],
        "doc_id int, text string",
    )
    out = tx.boilerplate_ngrams(df, n=5, min_docs=2).collect()
    assert len(out) == 1
    row = out[0]
    assert row.gram == "a b c d e" and row.n_docs == 2 and row.n_total == 2


def test_boilerplate_ngrams_counts_within_doc_repeats(spark):
    df = spark.createDataFrame(
        [(1, "p q p q p q p q"), (2, "p q p q p q")],
        "doc_id int, text string",
    )
    # "p q p q p" occurs at starts 0,2 in doc1 and start 0 in doc2
    out = {r.gram: r for r in tx.boilerplate_ngrams(df, n=5, min_docs=2).collect()}
    assert out["p q p q p"].n_docs == 2
    assert out["p q p q p"].n_total == 3


def test_boilerplate_ngrams_floor_preserves_result(spark, sf_dir):
    """min_total_floor = min_docs is exactly result-preserving (n_total >=
    n_docs, so any gram the floor drops could never clear the n_docs
    filter) — asserted on the real documents table, all three columns."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plain = {
        (r.gram, r.n_docs, r.n_total)
        for r in tx.boilerplate_ngrams(docs, n=5, min_docs=2).collect()
    }
    floored = {
        (r.gram, r.n_docs, r.n_total)
        for r in tx.boilerplate_ngrams(
            docs, n=5, min_docs=2, min_total_floor=2
        ).collect()
    }
    assert plain == floored and plain


def test_boilerplate_ngrams_floor_plan_and_aggressive_floor(spark):
    """The floor path's physical plan must contain the hash-keyed
    total-count pre-pass (an xxhash64 survivor agg joined back on gh) with
    join strategy left to Catalyst/AQE (no forced broadcast at floor=2
    scale). A floor above min_docs prunes aggressively by design."""
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e"), (3, "a b c d e")],
        "doc_id int, text string",
    )
    out = tx.boilerplate_ngrams(df, n=5, min_docs=2, min_total_floor=3)
    plan = out._jdf.queryExecution().toString()
    # pre-pass + distinct expansion: at least three HashAggregate spans
    # (total-count agg, distinct two-phase, final) and the 8-byte hash key
    assert plan.lower().count("hashaggregate") >= 3
    assert "xxhash64" in plan.lower()
    rows = {r.gram: r for r in out.collect()}
    # "a b c d e" occurs 3x across 3 docs -> survives floor=3;
    # "b c d e f" occurs once -> floored out before the distinct phase
    assert set(rows) == {"a b c d e"}
    assert rows["a b c d e"].n_docs == 3 and rows["a b c d e"].n_total == 3


def test_training_prep_composition(spark, sf_dir):
    from tranquility_spark.catalog import CATALOG

    mixed = CATALOG["samp4_mixture_resample"].fn(spark, sf_dir)
    prep = CATALOG["pipe3_training_prep"].fn(spark, sf_dir).collect()
    # shuffle is a pure reshape of the mixture output: same rows, every
    # kept doc gets exactly one (shard, pos) slot, positions dense per shard
    assert len(prep) == mixed.count()
    by_shard: dict[int, list[int]] = {}
    for r in prep:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_a10d_histogram_partition_of_rows_and_clamp(spark, sf_dir):
    """The fixed-bucket histogram is a partition of the input: bucket ids
    stay inside [0, 24] (Druid's out-of-range clamp), bucket_lo is exactly
    bucket*width, and the counts sum to the table size."""
    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    rows = CATALOG["a10d_fixed_histogram"].fn(spark, sf_dir).collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r.n for r in rows) == n_events
    for r in rows:
        assert 0 <= r.bucket <= 24
        assert r.bucket_lo == r.bucket * 20.0
        assert r.n > 0


def test_a10d_histogram_single_map_combined_agg(spark, sf_dir):
    """The histogram plan must be ONE two-phase hash agg over the scan —
    a single Exchange carrying only (event_type, bucket) groups."""
    from tranquility_spark.catalog import CATALOG

    df = CATALOG["a10d_fixed_histogram"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan, plan


def test_f6_winsorize_thresholds_bound_the_sum(spark, sf_dir):
    """Clip thresholds must order correctly, clipped-row counts must be
    ~5% tails, and the winsorized sum must lie inside [n*p05, n*p95]."""
    from tranquility_spark.catalog import CATALOG

    rows = CATALOG["f6_winsorize_clip"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.p05 <= r.p95
        # interpolated exact percentiles: each tail is < 6% of rows
        assert r.n_clipped_low <= 0.06 * r.n + 1
        assert r.n_clipped_high <= 0.06 * r.n + 1
        assert r.n * r.p05 - 1e-6 <= r.winsorized_sum <= r.n * r.p95 + 1e-6


def test_f6_winsorize_broadcasts_stats_not_fact(spark, sf_dir):
    """The per-type stats frame must come back as a broadcast join — the
    fact table is scanned, never shuffled into the join."""
    from tranquility_spark.catalog import CATALOG

    df = CATALOG["f6_winsorize_clip"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_txt14_oov_rate_semantics_and_degenerate_vocab(spark, sf_dir):
    """OOV rate: tokens outside the top-K vocab count as OOV; a vocab that
    covers the whole corpus yields rate 0 (fixture-degeneracy guard — the
    catalog entry must keep K below the corpus distinct-token count)."""
    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    out = {
        r.doc_id: r
        for r in CATALOG["txt14_oov_rate"].fn(spark, sf_dir).collect()
    }
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    assert set(out) == set(docs)
    # recompute one doc by hand against the corpus-wide top-20 vocab
    from collections import Counter

    counts: Counter = Counter()
    for text in docs.values():
        counts.update(text.strip().split())
    vocab = {
        t for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    }
    assert len(counts) > 20, "fixture must have more distinct tokens than K"
    for doc_id, text in list(docs.items())[:25]:
        toks = text.strip().split()
        expected = sum(1 for t in toks if t not in vocab)
        assert out[doc_id].n_oov == expected, doc_id
        assert out[doc_id].n_tokens == len(toks)


def test_txt14_oov_corpus_side_never_shuffles(spark, sf_dir):
    """Scale contract: the per-doc pass is a narrow fold against a one-row
    broadcast vocab — the ONLY Exchange in the plan is the bounded token
    count feeding TakeOrdered(K)."""
    from tranquility_spark.catalog import CATALOG

    df = CATALOG["txt14_oov_rate"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_txt15_entropy_bounds_and_uniform_case(spark, sf_dir):
    """Entropy must sit in [0, ln(n_types)] (within rounding), be 0 for a
    single-token doc, and hit exactly ln(k) for a uniform k-token doc."""
    import math

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    rows = CATALOG["txt15_token_entropy"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1e-6 <= r.entropy <= math.log(r.n_types) + 1e-4, r

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d")], "doc_id long, text string"
    )
    import tranquility_spark.catalog_llm as cl

    # drive the same expression path through a temp-table swap: recompute
    # by hand instead (the entry is table-bound): uniform 4-token doc
    from pyspark.sql import functions as F

    toks = df.select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    cnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") * F.lit(1.0) / F.col("n")
    term = F.round(p * F.log(p), 6).cast("decimal(28,6)")
    out = {
        r.doc_id: r.entropy
        for r in cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(-F.sum(term).cast("double"), 6).alias("entropy"))
        .collect()
    }
    assert out[1] == 0.0
    assert abs(out[2] - math.log(4)) < 2e-6


def test_pipe4_gate_counts_reconcile(spark, sf_dir):
    """The composed gate's per-rule counts must reconcile with the signal
    entries applied individually, and the conjunctive count can never
    exceed any single rule's count."""
    from pyspark.sql import functions as F

    from tranquility_spark.catalog import CATALOG

    rows = CATALOG["pipe4_quality_prep"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_pass_all <= min(r.n_pass_ttr, r.n_pass_oov, r.n_pass_entropy)
        assert 0 < r.n_pass_all <= r.n_docs, "gate must be non-degenerate"
    total_ttr = sum(r.n_pass_ttr for r in rows)
    indiv = (
        CATALOG["txt13_lexical_diversity"]
        .fn(spark, sf_dir)
        .filter(F.col("ttr") >= 0.35)
        .count()
    )
    assert total_ttr == indiv


def test_mm4_audio_framing_semantics(spark, sf_dir):
    """Frame math: a doc of n bytes emits (n-256)//128+1 full frames (0 if
    n<256); energy/peak match a pure-python recomputation; the silence flag
    obeys the integer threshold."""
    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    rows = CATALOG["mm4_audio_frame_energy"].fn(spark, sf_dir).collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    docs = {
        r.doc_id: r.text.encode("utf-8")
        for r in load_table(spark, sf_dir, "documents").limit(4000).collect()
    }
    checked = 0
    for doc_id, payload in docs.items():
        n = len(payload)
        expected_frames = 0 if n < 256 else (n - 256) // 128 + 1
        got = sorted(by_doc.get(doc_id, []), key=lambda r: r.frame_id)
        assert len(got) == expected_frames, (doc_id, n)
        if expected_frames and checked < 25:
            checked += 1
            for r in got:
                w = [b - 128 for b in payload[r.frame_id * 128 : r.frame_id * 128 + 256]]
                energy = sum(x * x for x in w)
                assert r.energy == energy, (doc_id, r.frame_id)
                assert r.peak == max(abs(x) for x in w)
                assert r.is_silence == (1 if energy < 1500 * 256 else 0)
    assert checked > 0


def test_mm4_plan_is_shuffle_free(spark, sf_dir):
    from tranquility_spark.catalog import CATALOG

    df = CATALOG["mm4_audio_frame_energy"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower(), plan


def test_mm4_oracle_byte_exact_on_non_ascii_corpus(spark):
    """mm4's oracle decodes bytes from the HEX encoding (two hex digits per
    byte), never from char codepoints — prove exactness on a multi-byte
    corpus where codepoint arithmetic would diverge."""
    import duckdb

    import __spark_entry__ as ent
    from tranquility_spark.operators import multimodal as mmod

    rows = [
        (1, ("héllo wörld ünïcode " * 20)),   # multi-byte latin, >256 bytes
        (2, ("日本語テキスト" * 30)),            # 3-byte cjk
        (3, "short"),                          # under one frame -> no rows
        (4, "a" * 512),                        # ascii control, 3 frames
    ]
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS t(doc_id, text)"
    )
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    media = mmod.attach_binary_payload(sdf)
    got = sorted(map(tuple, mmod.audio_frame_energy(media).collect()))
    want = sorted(
        map(tuple, con.sql(ent.oracle_sql()["mm4_audio_frame_energy"]).fetchall())
    )
    assert got == want and got
    assert not any(t[0] == 3 for t in got)  # sub-frame doc emits nothing


def test_txt16_script_profile_cross_engine_on_non_ascii(spark):
    """The driver fixture is ASCII, so prove the non-ASCII script classes
    (cjk/cyrillic/arabic) and the dominance tie-break cross-engine on a
    synthetic corpus, mm4-style."""
    import duckdb

    import __spark_entry__ as ent
    from tranquility_spark.operators.text import script_profile

    rows = [
        (1, "hello world 123"),
        (2, "日本語のテキストです"),
        (3, "привет мир"),
        (4, "مرحبا بالعالم"),
        (5, "mixed 日本 text"),        # latin 9 vs cjk 2 -> latin
        (6, "日本 ab"),                # cjk 2 vs latin 2 -> tie -> latin (priority)
        (7, "!!! ???"),               # no class -> other
        (8, "12345"),                 # digits only
    ]
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS t(doc_id, text)"
    )
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, script_profile(sdf).collect()))
    want = sorted(
        map(tuple, con.sql(ent.oracle_sql()["txt16_script_profile"]).fetchall())
    )
    assert got == want
    dom = {t[0]: t[-1] for t in got}
    assert dom == {
        1: "latin", 2: "cjk", 3: "cyrillic", 4: "arabic",
        5: "latin", 6: "latin", 7: "other", 8: "digit",
    }


def test_txt16_plan_shuffle_free(spark, sf_dir):
    from tranquility_spark.catalog import CATALOG

    df = CATALOG["txt16_script_profile"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_emb7_covariance_matches_numpy(spark, sf_dir):
    """emb7's exact decimal path must agree with a numpy population
    covariance of the same 6dp-rounded values, and diagonals are
    non-negative (they are variances)."""
    import numpy as np

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    rows = CATALOG["emb7_dim_covariance"].fn(spark, sf_dir).collect()
    assert len(rows) == 36  # upper triangle of 8x8 incl. diagonal
    got = {(r.dim_i, r.dim_j): r.cov for r in rows}
    assert all(i <= j for i, j in got)
    assert all(got[(i, i)] >= 0 for i in range(8))

    vecs = np.array(
        [
            np.round(np.asarray(r["embedding"], dtype=np.float64)[:8], 6)
            for r in load_table(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ]
    )
    ref = np.cov(vecs, rowvar=False, bias=True)  # population covariance
    for (i, j), cov in got.items():
        assert abs(cov - ref[i, j]) <= 2e-6, (i, j, cov, ref[i, j])


def test_emb7_gram_fold_partials_keep_every_digit():
    """A partial above 28 significant digits (Decimal's default context
    precision, which ``scaleb`` rounds to) must reach the JVM exactly."""
    from decimal import Decimal

    import pyarrow as pa

    from tranquility_spark.catalog_llm import _emb7_gram_fold

    v = 10**17 + 1  # a 6dp-scaled value; v * v has 35 digits
    batch = pa.RecordBatch.from_arrays([pa.array([v, v], pa.int64())], names=["v0"])
    (out,) = list(_emb7_gram_fold(1)(iter([batch])))
    assert out.column(0)[0].as_py() == 2
    assert out.column(1)[0].as_py() == Decimal(f"{2 * v}e-6")
    assert out.column(2)[0].as_py() == Decimal(f"{2 * v * v}e-12")


def test_emb7_guards_null_and_short_embeddings(spark, tmp_path):
    """NULL embeddings are excluded (not silently half-counted); short
    arrays raise loudly (the binary_quantize guard rationale applied to
    covariance: element_at's NULL would skip a row in SOME dims' sums)."""
    import pytest

    from tranquility_spark.catalog import CATALOG

    base = spark.createDataFrame(
        [(i, [float(j) for j in range(64)], 0) for i in range(10)],
        "vec_id long, embedding array<double>, label long",
    )
    with_null = base.unionByName(
        spark.createDataFrame(
            [(99, None, 0)], "vec_id long, embedding array<double>, label long"
        )
    )
    d = str(tmp_path / "sf")
    with_null.write.parquet(f"{d}/embeddings.parquet")
    rows = CATALOG["emb7_dim_covariance"].fn(spark, d).collect()
    # identical vectors -> zero variance everywhere; the NULL row changed
    # nothing (with it half-counted, diagonals would go NEGATIVE)
    assert all(r.cov == 0.0 for r in rows)

    short = base.unionByName(
        spark.createDataFrame(
            [(98, [1.0, 2.0], 0)],
            "vec_id long, embedding array<double>, label long",
        )
    )
    d2 = str(tmp_path / "sf2")
    short.write.parquet(f"{d2}/embeddings.parquet")
    with pytest.raises(Exception, match="need >= 8"):
        CATALOG["emb7_dim_covariance"].fn(spark, d2).collect()


def test_txt19_bm25_semantics_and_plan(spark, sf_dir):
    """BM25 sanity beyond the hash oracle: (a) every returned doc matches
    at least one query term; (b) the rare term ('dup', df~5% of corpus)
    dominates — every doc containing it outranks every doc that only
    matches the two common terms (idf gap); (c) the plan is
    TakeOrderedAndProject (top-k, no global Sort+Exchange of scores)."""
    from pyspark.sql import functions as FF

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.sources.files import load_table

    df = CATALOG["txt19_bm25_topk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 10
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(FF.col("doc_id").isin([r["doc_id"] for r in rows]))
        .collect()
    }
    saw_dup_score, saw_nodup_score = [], []
    for r in rows:
        toks = set(docs[r["doc_id"]].split())
        assert toks & {"dup", "spark", "vector"}, r["doc_id"]
        (saw_dup_score if "dup" in toks else saw_nodup_score).append(r["bm25"])
    if saw_dup_score and saw_nodup_score:
        assert min(saw_dup_score) > max(saw_nodup_score)
    assert saw_dup_score  # the rare term's docs reach the top-10


def test_rank2_rrf_fusion_math_and_membership(spark, sf_dir):
    """RRF fusion sanity beyond the hash oracle: every fused id comes from
    at least one constant-size retrieval list, the fused score is exactly
    1/(60+lex_rank) + 1/(60+sem_rank) with absent-list terms zero, and a
    doc in BOTH lists outscores the same ranks taken singly."""
    from tranquility_spark.catalog import CATALOG

    rows = CATALOG["rank2_rrf_fusion"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
        want = 0.0
        if r["lex_rank"] is not None:
            assert 1 <= r["lex_rank"] <= 20
            want += 1.0 / (60 + r["lex_rank"])
        if r["sem_rank"] is not None:
            assert 1 <= r["sem_rank"] <= 20
            want += 1.0 / (60 + r["sem_rank"])
        assert r["rrf"] == round(want, 6), r
    # descending by fused score with id tie-break
    keys = [(-r["rrf"], r["id"]) for r in rows]
    assert keys == sorted(keys)


def test_pipe7_chunk_retrieval_ranks_passages(spark, sf_dir):
    """pipe7 sanity beyond the hash oracle: every returned chunk's text
    contains a query term; chunk-level stats differ from doc-level ones
    (a returned chunk's bm25 is NOT simply its document's txt19 score);
    top chunks from 'dup'-bearing docs dominate (rare-term idf over the
    chunk corpus)."""
    from pyspark.sql import functions as FF

    from tranquility_spark.catalog import CATALOG
    from tranquility_spark.operators import text as tx
    from tranquility_spark.sources.files import load_table

    rows = CATALOG["pipe7_chunk_retrieval"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    chunks = tx.chunk_tokens(
        load_table(spark, sf_dir, "documents"), chunk_size=32, stride=24
    )
    wanted = {(r["doc_id"], r["chunk_id"]) for r in rows}
    texts = {
        (r["doc_id"], r["chunk_id"]): r["chunk_text"]
        for r in chunks.filter(
            FF.col("doc_id").isin([d for d, _c in wanted])
        ).collect()
        if (r["doc_id"], r["chunk_id"]) in wanted
    }
    assert set(texts) == wanted
    for (d, c), text in texts.items():
        assert set(text.split()) & {"dup", "spark", "vector"}, (d, c)
    # keys descend by (bm25, doc_id, chunk_id)
    keys = [(-r["bm25"], r["doc_id"], r["chunk_id"]) for r in rows]
    assert keys == sorted(keys)


def test_bm25_stats_merge_equals_direct_and_serving_scores(spark, sf_dir):
    """Mergeable family #9 (VERDICT r9 #3): stats partials over a 3-way
    disjoint split sum-merge BIT-identically to the direct build, and
    bm25_scores(stats=...) reproduces the rescan-form scores exactly —
    the dd8b equality pattern for the serving path."""
    from pyspark.sql import functions as F

    from tranquility_spark.operators.text import (
        bm25_corpus_stats,
        bm25_scores,
        bm25_stats_merge,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    parts = [
        bm25_corpus_stats(docs.filter(F.col("doc_id") % 3 == i))
        for i in range(3)
    ]
    merged = {
        r["tok"]: (r["df"], r["n_units"], r["sum_dl"])
        for r in bm25_stats_merge(parts).collect()
    }
    direct = {
        r["tok"]: (r["df"], r["n_units"], r["sum_dl"])
        for r in bm25_corpus_stats(docs).collect()
    }
    assert merged == direct and len(direct) > 1
    assert direct[None][0] is None  # corpus row: no df
    n_units, sum_dl = direct[None][1], direct[None][2]
    assert n_units == docs.count() and sum_dl > 0
    tok_row = next(v for k, v in direct.items() if k is not None)
    assert tok_row[1] is None and tok_row[2] is None  # token rows: no totals

    terms = ("dup", "spark", "vector")
    stats = bm25_corpus_stats(docs)
    served = {
        r["doc_id"]: (r["bm25"], r["n_terms_matched"])
        for r in bm25_scores(docs, terms, stats=stats).collect()
    }
    rescan = {
        r["doc_id"]: (r["bm25"], r["n_terms_matched"])
        for r in bm25_scores(docs, terms).collect()
    }
    assert served == rescan and rescan

    # ADVICE r10 #4: UNMERGED partials (several NULL-token totals rows)
    # must fail fast, not silently fan the totals crossJoin out and
    # duplicate scores
    import pytest as pt
    from pyspark.errors import SparkRuntimeException

    unmerged = parts[0].unionByName(parts[1]).unionByName(parts[2])
    with pt.raises(SparkRuntimeException, match="exactly one"):
        bm25_scores(docs, terms, stats=unmerged).collect()
    # a stats frame with NO totals row is equally malformed
    with pt.raises(SparkRuntimeException, match="exactly one"):
        bm25_scores(
            docs, terms, stats=stats.filter(F.col("tok").isNotNull())
        ).collect()


def test_bm25_partials_sink_replay_and_merge_read(spark, tmp_path):
    """The batch_id= lifecycle for family #9: two batches land two
    partitions; a forced replay of batch 1 leaves the sink byte-identical;
    merge-at-read equals the direct one-shot build."""
    from tranquility_spark.operators.text import (
        bm25_corpus_stats,
        bm25_partials_sink,
        bm25_stats_merge_read,
    )

    b1 = spark.createDataFrame(
        [(1, "red fish blue fish"), (2, "one fish")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(3, "blue whale"), (4, "red red herring")], "doc_id long, text string"
    )
    out = str(tmp_path / "bm25_stats")
    write = bm25_partials_sink(out)
    write(b1, 0)
    write(b2, 1)
    before = sorted(map(str, spark.read.parquet(out).collect()))
    write(b2, 1)  # forced replay
    after = sorted(map(str, spark.read.parquet(out).collect()))
    assert after == before

    merged = {
        r["tok"]: (r["df"], r["n_units"], r["sum_dl"])
        for r in bm25_stats_merge_read(spark, out).collect()
    }
    direct = {
        r["tok"]: (r["df"], r["n_units"], r["sum_dl"])
        for r in bm25_corpus_stats(b1.unionByName(b2)).collect()
    }
    assert merged == direct
    assert merged[None] == (None, 4, 11)
    assert merged["fish"] == (2, None, None)
    assert merged["red"] == (2, None, None)  # df is per-DOC, tf ignored


def test_bm25_stats_prune_tail_cms_one_sided(spark, sf_dir):
    """The pruned-vocabulary serving path (families #9 + #5 composed):
    frequent-term scores stay bit-exact; tail-term df estimates are
    one-sided (CMS >= true), so tail-term scores are only ever
    UNDERestimated, never inflated; a never-seen term's spurious df is
    harmless (no tf rows to join)."""
    from pyspark.sql import functions as F

    from tranquility_spark.operators.text import (
        bm25_corpus_stats,
        bm25_scores,
        bm25_stats_prune,
        bm25_stats_serve,
    )
    from tranquility_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stats = bm25_corpus_stats(docs)
    true_df = {
        r["tok"]: r["df"]
        for r in stats.filter(F.col("tok").isNotNull()).collect()
    }
    # the fixture vocabulary is tiny and DENSE (every token frequent), so
    # set the floor at the median df to exercise both sides of the prune;
    # the mechanics (one-sidedness, exactness of kept rows) are df-scale
    # free
    floor = sorted(true_df.values())[len(true_df) // 2]
    exact, tail = bm25_stats_prune(stats, df_floor=floor)
    n_exact = exact.filter(F.col("tok").isNotNull()).count()
    n_tail = sum(1 for d in true_df.values() if d <= floor)
    assert n_exact == len(true_df) - n_tail and n_tail > 0

    # a frequent-terms-only query: scores bit-exact vs the full stats
    frequent = [t for t, d in true_df.items() if d > floor][:3]
    sf_served = sorted(map(tuple, bm25_scores(
        docs, frequent, stats=bm25_stats_serve(exact, tail, frequent)
    ).collect()))
    sf_full = sorted(map(tuple, bm25_scores(docs, frequent, stats=stats).collect()))
    assert sf_served == sf_full and sf_served

    # a query including tail terms: df one-sided, scores never inflated
    rare = [t for t, d in true_df.items() if d <= floor][:2]
    q = frequent[:1] + rare
    served_stats = bm25_stats_serve(exact, tail, q)
    got_df = {
        r["tok"]: r["df"]
        for r in served_stats.filter(F.col("tok").isNotNull()).collect()
    }
    for t in rare:
        assert got_df[t] >= true_df[t], (t, got_df[t], true_df[t])
    pruned = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(docs, q, stats=served_stats).collect()
    }
    full = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(docs, q, stats=stats).collect()
    }
    assert set(pruned) == set(full)  # same matched docs (tf side unpruned)
    for doc, score in pruned.items():
        assert score <= full[doc] + 1e-6 * len(q), (doc, score, full[doc])

    # never-seen term: harmless even if CMS collides to a nonzero df
    ghost = bm25_scores(
        docs, ["zzz_never_a_token"],
        stats=bm25_stats_serve(exact, tail, ["zzz_never_a_token"]),
    )
    assert ghost.count() == 0


def test_bm25_empty_query_fails_fast(spark):
    """An empty query list must raise up front, not as a py4j isin() error
    deep inside plan analysis."""
    import pytest as pt

    from tranquility_spark.operators.text import (
        bm25_corpus_stats,
        bm25_scores,
        bm25_stats_prune,
        bm25_stats_serve,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pt.raises(ValueError, match="non-empty"):
        bm25_scores(df, [])
    exact, tail = bm25_stats_prune(bm25_corpus_stats(df), df_floor=0)
    with pt.raises(ValueError, match="non-empty"):
        bm25_stats_serve(exact, tail, [])
