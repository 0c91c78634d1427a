"""Unit tests for text / dedup / similarity / token / masking /
multimodal operators."""

import math

from pyspark.sql import functions as F
from dbimport_spark.session import local_frame


def _docs(spark, rows):
    return local_frame(spark, rows, "doc_id int, text string")


def test_token_counts_and_fingerprint(spark):
    from dbimport_spark.operators.text import (
        fingerprint,
        normalize_text,
        word_token_count,
        ws_token_count,
    )

    df = _docs(spark, [(1, "  Hello,  world! foo_bar  "), (2, "one")])
    out = df.select(
        "doc_id",
        ws_token_count(F.col("text")).alias("ws"),
        word_token_count(F.col("text")).alias("w"),
        normalize_text(F.col("text")).alias("norm"),
        fingerprint(F.col("text")).alias("fp"),
    ).collect()
    r1 = {r["doc_id"]: r for r in out}
    assert r1[1]["ws"] == 3  # Hello, | world! | foo_bar
    assert r1[1]["w"] == 5  # Hello , world ! foo_bar
    assert r1[1]["norm"] == "hello, world! foo_bar"
    assert r1[2]["ws"] == 1 and r1[2]["w"] == 1
    assert len(r1[1]["fp"]) == 32


def test_exact_dedup(spark):
    from dbimport_spark.operators.text_dedup import exact_dedup

    df = _docs(spark, [(1, "same text"), (2, "same text"), (3, "other")])
    got = {r["doc_id"] for r in exact_dedup(df).collect()}
    assert got == {1, 3}
    # normalized variant merges case/whitespace variants
    df2 = _docs(spark, [(1, "Same  Text"), (2, "same text"), (3, "other")])
    got2 = {r["doc_id"] for r in exact_dedup(df2, normalized=True).collect()}
    assert got2 == {1, 3}


def test_pii_redaction(spark):
    from dbimport_spark.operators.text import pii_features, redact_pii

    df = _docs(
        spark,
        [
            (1, "mail a.b+c@ex-ample.org or 555-123-4567, ssn 123-45-6789, host 192.168.0.1"),
            (2, "no pii here at all"),
        ],
    )
    rows = {r["doc_id"]: r for r in pii_features(df).collect()}
    assert rows[1]["n_email"] == 1 and rows[1]["n_phone"] == 1
    assert rows[1]["n_ssn"] == 1 and rows[1]["n_ipv4"] == 1
    assert all(rows[2][c] == 0 for c in ("n_email", "n_phone", "n_ssn", "n_ipv4"))
    red = {
        r["doc_id"]: r["r"]
        for r in df.select("doc_id", redact_pii(F.col("text")).alias("r")).collect()
    }
    assert red[1] == "mail <EMAIL> or <PHONE>, ssn <SSN>, host <IPV4>"
    assert red[2] == "no pii here at all"


def test_repetition_features(spark):
    from dbimport_spark.operators.text import repetition_features

    df = _docs(
        spark,
        [(1, "a a a a"), (2, "a b c d"), (3, "x y x y x y"), (4, "solo")],
    )
    rows = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert rows[1]["n_tokens"] == 4
    assert rows[1]["distinct_permille"] == 250
    assert rows[1]["top_token_permille"] == 1000
    assert rows[1]["top_bigram_permille"] == 1000  # "a a" is every bigram
    assert rows[2]["distinct_permille"] == 1000
    assert rows[2]["top_token_permille"] == 250
    assert rows[2]["top_bigram_permille"] == 333  # 3 bigrams, each once
    assert rows[3]["top_token_permille"] == 500  # x: 3 of 6
    assert rows[3]["top_bigram_permille"] == 600  # "x y" 3 of 5
    # single-token doc: no bigrams → permille 0, not null/failure
    assert rows[4]["n_tokens"] == 1 and rows[4]["top_bigram_permille"] == 0


def test_jaccard_and_minhash_agree(spark):
    from dbimport_spark.operators.text_dedup import (
        minhash_lsh_dedup,
        ngram_jaccard_dedup,
    )

    a = "the quick brown fox jumps over the lazy dog again and again"
    b = "the quick brown fox jumps over the lazy dog again and often"  # near-dup
    c = "completely different content about spark engines and parquet files"
    df = _docs(spark, [(1, a), (2, b), (3, c)])
    exact = ngram_jaccard_dedup(df, n=3, min_permille=300).collect()
    assert {(r["id_a"], r["id_b"]) for r in exact} == {(1, 2)}
    lsh = minhash_lsh_dedup(df, n=3, num_perm=32, bands=8, min_permille=300).collect()
    assert {(r["id_a"], r["id_b"]) for r in lsh} == {(1, 2)}
    # verified jaccard identical between the two paths
    assert exact[0]["jaccard_permille"] == lsh[0]["jaccard_permille"]


def test_simhash_near_dups(spark):
    from dbimport_spark.operators.text_dedup import simhash, simhash_near_dups

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    c = "one two three four five six seven eight nine ten"
    df = _docs(spark, [(1, a), (2, b), (3, c)])
    sh = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert len(sh) == 3
    # identical text → identical simhash
    df_same = _docs(spark, [(1, a), (2, a)])
    sh2 = {r["doc_id"]: r["simhash"] for r in simhash(df_same).collect()}
    assert sh2[1] == sh2[2]
    pairs = simhash_near_dups(df, max_hamming=20).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got


def test_cosine_similarity(spark):
    from dbimport_spark.operators.similarity import (
        ann_lsh_topk,
        brute_force_topk,
        cosine_to_query,
    )

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])]
    df = local_frame(spark, rows, "vec_id int, embedding array<float>")
    q = [1.0, 0.0]
    scored = {r["vec_id"]: r["cosine_sim"] for r in cosine_to_query(df, q).collect()}
    assert abs(scored[0] - 1.0) < 1e-9
    assert abs(scored[2]) < 1e-9
    assert abs(scored[3] + 1.0) < 1e-9
    top2 = [r["vec_id"] for r in brute_force_topk(df, q, k=2).collect()]
    assert top2 == [0, 1]
    ann = [r["vec_id"] for r in ann_lsh_topk(df, q, k=2, n_planes=4, seed=1).collect()]
    assert 0 in ann  # query's own bucket must contain the exact match


def test_token_functions(spark):
    from dbimport_spark.functions.tokens import (
        distinct_token_count,
        n_tok,
        rolling_token_fingerprint,
        token_content_hash,
        token_stats,
    )

    df = local_frame(
        spark,
        [(1, [5, 3, 5, 1]), (2, None)], "id int, tokens array<int>"
    )
    out = {r["id"]: r for r in df.select(
        "id",
        n_tok(F.col("tokens")).alias("n"),
        token_content_hash(F.col("tokens")).alias("h"),
        token_stats(F.col("tokens")).alias("st"),
        rolling_token_fingerprint(F.col("tokens")).alias("rf"),
        distinct_token_count(F.col("tokens")).alias("dc"),
    ).collect()}
    assert out[1]["n"] == 4 and out[2]["n"] is None
    assert out[1]["st"]["mn"] == 1 and out[1]["st"]["mx"] == 5 and out[1]["st"]["sm"] == 14
    from dbimport_spark.functions.tokens import FP_B1, FP_B2, FP_MOD

    h1 = h2 = 0
    for t in [5, 3, 5, 1]:
        h1 = (h1 * FP_B1 + t) % FP_MOD
        h2 = (h2 * FP_B2 + t) % FP_MOD
    assert out[1]["rf"] == (h1 << 31) + h2
    assert out[1]["dc"] == 3 and out[2]["dc"] == 0
    # order sensitivity: reversed sequence fingerprints differently
    df2 = local_frame(spark, [(1, [1, 5, 3, 5])], "id int, tokens array<int>")
    rf2 = df2.select(rolling_token_fingerprint(F.col("tokens")).alias("rf")).first()["rf"]
    assert rf2 != out[1]["rf"]


def test_masking(spark):
    from dbimport_spark.functions.masking import apply_anonymization

    df = local_frame(spark, [("Customer#001", "secret", "abcdef")],
                               "name string, pw string, code string")
    out = apply_anonymization(
        df, {"name": "first4", "pw": "star", "code": "hash"}, salt="s1"
    ).first()
    assert out["name"] == "Cust" + "*" * 8
    assert out["pw"] == "******"
    assert len(out["code"]) == 64
    # salted: different salt → different hash
    out2 = apply_anonymization(df, {"code": "hash"}, salt="s2").first()
    assert out2["code"] != out["code"]


def test_multimodal_plumbing(spark):
    from dbimport_spark.operators.multimodal import extract_features, synth_media

    media = synth_media(spark, 20, seed=7, blob_bytes=64)
    rows = media.collect()
    assert len(rows) == 20
    assert all(len(r["payload"]) == 64 for r in rows)
    assert {r["kind"] for r in rows} <= {"image", "audio", "video"}
    feats = extract_features(media, feat_dim=8).collect()
    assert len(feats) == 20
    assert all(r["feat_dim"] == 8 and len(r["feature"]) == 8 for r in feats)
    # deterministic
    feats2 = extract_features(synth_media(spark, 20, seed=7, blob_bytes=64), feat_dim=8).collect()
    assert sorted(map(repr, feats)) == sorted(map(repr, feats2))
    s = sum(feats[0]["feature"])
    assert abs(s - 1.0) < 1e-3  # histogram normalized by blob length


def test_short_and_empty_docs_do_not_crash_dedup(spark):
    from dbimport_spark.operators.text_dedup import (
        minhash_lsh_dedup,
        ngram_jaccard_dedup,
        word_shingles,
    )

    df = _docs(
        spark,
        [(1, "only two"), (2, ""), (3, "one"), (4, "a proper length document here ok")],
    )
    # docs shorter than n words simply contribute no shingles
    sh = word_shingles(df, n=3)
    ids = {r["doc_id"] for r in sh.collect()}
    assert ids == {4}
    assert ngram_jaccard_dedup(df, n=3).count() == 0
    assert minhash_lsh_dedup(df, n=3).count() == 0


def test_ivf_topk(spark):
    from dbimport_spark.operators.similarity import brute_force_topk, ivf_topk

    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(60)]
    df = local_frame(spark, rows, "vec_id int, embedding array<float>")
    q = [6.0, 2.0, 1.0]
    exact = [r["vec_id"] for r in brute_force_topk(df, q, k=5).collect()]
    approx = [
        r["vec_id"]
        for r in ivf_topk(df, q, k=5, n_clusters=4, n_probe=2, seed=1).collect()
    ]
    assert len(approx) == 5
    # recall: probing half the clusters should recover most of the true top
    assert len(set(exact) & set(approx)) >= 3
    # deterministic across runs
    approx2 = [
        r["vec_id"]
        for r in ivf_topk(df, q, k=5, n_clusters=4, n_probe=2, seed=1).collect()
    ]
    assert approx == approx2


def test_multimodal_resize_and_frames(spark):
    """Resize + frame-sample plumbing: typed schemas, fan-out shape,
    deterministic fake payloads with the right sizes."""
    from dbimport_spark.operators.multimodal import (
        resize_images,
        sample_frames,
        synth_media,
    )

    media = synth_media(spark, 60, seed=7, blob_bytes=128)
    res = resize_images(media, width=8, height=4)
    rows = res.collect()
    assert len(rows) == media.filter("kind = 'image'").count()
    assert all(len(bytes(r["payload"])) == 32 for r in rows)
    assert all(r["width"] == 8 and r["height"] == 4 for r in rows)
    # deterministic: same seed regenerates identical resized bytes
    res2 = {r["media_id"]: bytes(r["payload"]) for r in resize_images(
        synth_media(spark, 60, seed=7, blob_bytes=128), width=8, height=4
    ).collect()}
    assert all(bytes(r["payload"]) == res2[r["media_id"]] for r in rows)

    fr = sample_frames(media, n_frames=4)
    frows = fr.collect()
    n_videos = media.filter("kind = 'video'").count()
    assert len(frows) == 4 * n_videos
    by_media = {}
    for r in frows:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, rs in by_media.items():
        assert sorted(x["frame_idx"] for x in rs) == [0, 1, 2, 3]
        assert all(x["ts_ms"] in (0, 250, 500, 750) for x in rs)
        assert all(len(bytes(x["frame"])) == 32 for x in rs)


def test_ivf_index_fit_once_persist_reuse(spark, tmp_path, monkeypatch):
    """IVF quantizer persistence: fit once, save, load, query twice with
    identical results — and the query path runs NO KMeans job at all
    (VERDICT r2: re-fitting inside every query call is the wrong shape at
    scale)."""
    from dbimport_spark.operators.similarity import (
        IVFIndex,
        ann_batch_topk,
        brute_force_topk,
        ivf_topk,
    )

    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(60)]
    df = local_frame(spark, rows, "vec_id int, embedding array<float>")
    q = [6.0, 2.0, 1.0]

    idx = IVFIndex.fit(df, n_clusters=4, seed=1)
    path = str(tmp_path / "ivf" / "centroids.json")
    idx.save(path)
    loaded = IVFIndex.load(path)
    assert loaded.centers == idx.centers

    # poison KMeans: any re-fit during querying must explode
    import pyspark.ml.clustering as km

    def _no_fit(self, *a, **k):
        raise AssertionError("KMeans re-fit during query — index not reused")

    monkeypatch.setattr(km.KMeans, "fit", _no_fit)

    r1 = [r["vec_id"] for r in ivf_topk(df, q, k=5, n_probe=2, index=loaded).collect()]
    r2 = [r["vec_id"] for r in ivf_topk(df, q, k=5, n_probe=2, index=loaded).collect()]
    assert r1 == r2 and len(r1) == 5

    monkeypatch.undo()
    exact = [r["vec_id"] for r in brute_force_topk(df, q, k=5).collect()]
    assert len(set(exact) & set(r1)) >= 3

    # batched path reuses the same persisted index (no KMeans either)
    monkeypatch.setattr(km.KMeans, "fit", _no_fit)
    queries = df.filter("vec_id in (1, 2)").selectExpr(
        "vec_id as query_id", "embedding"
    )
    out = ann_batch_topk(df, queries, k=3, n_probe=4, index=loaded)
    assert out.groupBy("query_id").count().count() == 2


def test_cosine_zero_norm_is_null_not_crash(spark):
    """A zero-norm embedding (padding / failed encoder) must score NULL
    and stay out of the top-k — under Spark 4's default ANSI mode the
    old plain division aborted the whole job with DIVIDE_BY_ZERO."""
    from dbimport_spark.operators.similarity import (
        brute_force_topk,
        cosine_near_dup_pairs,
        cosine_to_query,
    )

    df = local_frame(
        spark,
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    scored = {r["vec_id"]: r["cosine_sim"]
              for r in cosine_to_query(df, [1.0, 0.0]).collect()}
    assert scored[3] is None and scored[1] is not None
    top = brute_force_topk(df, [1.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in top] == [1, 2]  # null row filtered
    pairs = cosine_near_dup_pairs(df, min_milli=900)
    ids = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert ids == {(1, 2)}  # no crash, zero vector in no pair


def test_ann_lsh_accepts_int_query(spark):
    from dbimport_spark.operators.similarity import ann_lsh_topk

    df = local_frame(
        spark,
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = ann_lsh_topk(df, [1, 0], k=1)  # Python ints, like ivf_topk
    assert out.collect()[0]["vec_id"] == 1


def test_token_fingerprint_null_element_refused(spark):
    """A null token element must fail LOUDLY — the old int64 cast turned
    NaN into a platform-dependent sentinel and emitted a silently wrong
    fingerprint."""
    import pytest

    from dbimport_spark.functions.tokens import rolling_token_fingerprint

    df = local_frame(
        spark,
        [("a", [1, None, 3])], "doc_id string, tokens array<long>"
    )
    with pytest.raises(Exception, match="null token"):
        df.select(rolling_token_fingerprint(F.col("tokens"))).collect()


def test_token_stats_bigint_elements(spark):
    from dbimport_spark.functions.tokens import token_stats

    df = local_frame(
        spark,
        [("a", [2**40, 5, -3])], "doc_id string, tokens array<long>"
    )
    st = df.select(token_stats(F.col("tokens")).alias("s")).first()["s"]
    assert (st["mn"], st["mx"], st["sm"]) == (-3, 2**40, 2**40 + 2)


def test_lsh_band_validation(spark):
    """bands > num_perm (rows=0) silently degenerated LSH to the full
    cross join; non-divisible num_perm silently dropped permutations —
    both now refuse."""
    import pytest

    from dbimport_spark.operators.text_dedup import (
        minhash_lsh_dedup,
        simhash_near_dups,
    )

    docs = local_frame(
        spark,
        [("a", "x y z"), ("b", "x y w")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="multiple of"):
        minhash_lsh_dedup(docs, num_perm=4, bands=8)
    with pytest.raises(ValueError, match="multiple of"):
        minhash_lsh_dedup(docs, num_perm=30, bands=8)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dups(docs, max_hamming=64)


def test_stopword_hits_consecutive_repeats_and_empty_tokens(spark):
    """'the the the' counts 3 (single-space padding undercounted to 2:
    adjacent repeats shared the consumed space), and empty text is a
    0-token doc, not a 1-token one."""
    from dbimport_spark.operators.text import (
        quality_features,
        stopword_hits,
        ws_token_count,
    )

    df = local_frame(
        spark,
        [("r", "the the the"), ("e", ""), ("w", "   ")],
        "doc_id string, text string",
    )
    got = {
        r["doc_id"]: (r["hits"], r["n"])
        for r in df.select(
            "doc_id",
            stopword_hits(F.col("text")).alias("hits"),
            ws_token_count(F.col("text")).alias("n"),
        ).collect()
    }
    assert got["r"] == (3, 3)
    assert got["e"] == (0, 0) and got["w"] == (0, 0)
    qf = {r["doc_id"]: r["quality_score"]
          for r in quality_features(df).collect()}
    assert qf["r"] == 1000  # 3/3 stopwords -> 1000 permille, len band 0
    assert qf["e"] == 0  # no ANSI division error on the empty doc


def test_masking_newlines_and_multimodal_null_duration(spark):
    """Masks cover line terminators (the regex '.' leaked newline
    structure through a 'full' mask) and stay length-preserving at any
    size; frame sampling survives a null duration_ms (Arrow hands
    nullable ints over as NaN, which `or 0` passed through to int())."""
    from dbimport_spark.functions.masking import (
        replace_with_star,
        show_first_four,
    )
    from dbimport_spark.operators.multimodal import sample_frames

    df = local_frame(spark, [("s", "ab\ncd\ne")], "k string, v string")
    row = df.select(
        replace_with_star(F.col("v")).alias("star"),
        show_first_four(F.col("v")).alias("f4"),
    ).first()
    assert row["star"] == "*******"  # no newline survives
    assert row["f4"] == "ab\nc***"  # first 4 verbatim, rest starred

    media = local_frame(
        spark,
        [("m1", "video", bytearray(b"0123456789abcdef"), None, None, None,
          None)],
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    frames = sample_frames(media, n_frames=2).collect()
    assert len(frames) == 2 and all(f["ts_ms"] == 0 for f in frames)


def test_multimodal_codec_gate_raises_at_call_time(spark):
    """deterministic_fake=False must fail at CALL time on the driver —
    checked inside the batch loop, empty input silently succeeded and
    non-empty input failed only as a remote task error."""
    import pytest

    from dbimport_spark.operators.multimodal import extract_features

    empty = local_frame(
        spark,
        [], "media_id string, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    with pytest.raises(NotImplementedError, match="codec"):
        extract_features(empty, deterministic_fake=False)


def test_loggen_segments_globally_sorted_and_no_stale(spark, tmp_path):
    """Each segment file is globally lsn-sorted (sort-then-coalesce only
    concatenated per-parent sorted runs), and re-writing with fewer
    segments clears the stale overlapping ones."""
    import os

    from dbimport_spark.sources.loggen import (
        generate_changes,
        write_changes_segments,
    )

    log = str(tmp_path / "seg")
    changes = generate_changes(spark, 5000, n_keys=500, seed=7,
                               num_partitions=8)
    # a parquet round-trip gives size-ordered (not lsn-ordered) splits —
    # the case where sort-then-coalesce silently interleaved runs
    raw = str(tmp_path / "raw")
    changes.write.parquet(raw)
    df = spark.read.parquet(raw)
    files = write_changes_segments(df, log, n_segments=6)
    assert len(files) == 6
    import pyarrow.parquet as pq

    for f in files:
        lsns = pq.read_table(f, columns=["lsn"])["lsn"].to_pylist()
        assert lsns == sorted(lsns), f"{f} not globally sorted"
    files2 = write_changes_segments(df, log, n_segments=3)
    on_disk = sorted(
        n for n in os.listdir(log)
        if n.startswith("seg-") and n.endswith(".parquet")
    )
    assert len(files2) == 3 and len(on_disk) == 3  # stale segs cleared
