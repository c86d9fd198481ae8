"""Operator exactness tests: dedup family vs brute-force references,
similarity vs exact cosine, multimodal plumbing, text stats."""

import hashlib
import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from strucmotif_search_spark import TOKEN_PATTERN
from strucmotif_search_spark.operators import dedup, multimodal, similarity, textstats

TOK = re.compile(TOKEN_PATTERN)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (3, "import numpy as np def main return np"),
        (4, "completely different content about spark engines"),
        (5, "import numpy as np def main return np extra tail"),  # near 3
        (6, ""),
        (7, "a b c d e f g h i j k l m n o p q r s t"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def _shingles(text, n=3):
    toks = TOK.findall(text)
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a, b):
    A, B = _shingles(a), _shingles(b)
    return len(A & B) / len(A | B) if A | B else 0.0


def test_exact_dedup(docs):
    out = {r["doc_id"]: r["canonical_id"] for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == 0 and out[2] == 0  # identical texts share canonical id
    assert out[1] == 1 and out[3] == 3


def test_ngram_jaccard_matches_bruteforce(docs):
    rows = docs.collect()
    texts = {r["doc_id"]: r["text"] for r in rows}
    expected = {}
    ids = sorted(texts)
    for i in ids:
        for j in ids:
            if i < j:
                jac = _jaccard(texts[i], texts[j])
                if jac >= 0.3:
                    expected[(i, j)] = jac
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert set(got) == set(expected)
    for k in got:
        assert got[k] == pytest.approx(expected[k], abs=1e-12)
    assert (0, 2) in got  # exact dup pair found with jaccard 1.0
    assert got[(0, 2)] == 1.0


def test_minhash_lsh_no_false_positives_and_finds_exact(docs):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            docs, num_hashes=16, bands=8, threshold=0.3
        ).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    # verification stage guarantees zero false positives
    for (a, b), jac in got.items():
        assert jac == pytest.approx(_jaccard(texts[a], texts[b]), abs=1e-12)
        assert jac >= 0.3
    # identical docs collide in every band -> always recalled
    assert (0, 2) in got


def test_simhash_properties(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sh[0] == sh[2]  # identical text -> identical fingerprint
    ham_near = bin(sh[0] ^ sh[1]).count("1")
    ham_far = bin(sh[0] ^ sh[4]).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(0, 2)] == 0


def test_cosine_topk_exact_and_lsh_recall(spark):
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[0]]
    exact = [
        r["vec_id"]
        for r in similarity.cosine_topk_bruteforce(df, q, k=10).collect()
    ]
    # numpy ground truth
    v = vecs.astype(np.float64)
    cos = (v @ np.asarray(q)) / (
        np.linalg.norm(v, axis=1) * np.linalg.norm(q)
    )
    order = np.lexsort((np.arange(200), -cos))[:10]
    assert exact == list(order)
    # LSH: results are a subset of the corpus ranked exactly; recall@10 > 0
    lsh = [
        r["vec_id"]
        for r in similarity.lsh_cosine_topk(df, q, k=10, n_planes=6).collect()
    ]
    assert lsh[0] == 0  # the query vector itself is always in its own bucket
    assert len(set(lsh) & set(exact)) >= 3


def test_ivf_topk_determinism_and_recall(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((300, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[0]]
    exact = {
        r["vec_id"]
        for r in similarity.cosine_topk_bruteforce(df, q, k=10).collect()
    }
    # full probe (nprobe == n_cells) degenerates to exact brute force
    full = similarity.ivf_cosine_topk(df, q, k=10, n_cells=8, nprobe=8)
    assert {r["vec_id"] for r in full.collect()} == exact
    # partial probe: deterministic across runs, ranked exactly, recall > 0
    a = [r["vec_id"] for r in
         similarity.ivf_cosine_topk(df, q, k=10, n_cells=8, nprobe=3).collect()]
    b = [r["vec_id"] for r in
         similarity.ivf_cosine_topk(df, q, k=10, n_cells=8, nprobe=3).collect()]
    assert a == b
    assert a[0] == 0  # the query vector lands in a probed cell (it IS cid 0)
    assert len(set(a) & exact) >= 3
    # assignment is a map-only expression: no Exchange before the cell filter
    plan = similarity.ivf_cosine_topk(
        df, q, k=10, n_cells=8, nprobe=3
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_kmeans_centroids_deterministic_and_recall(spark):
    """Round-3 verdict Missing #2: the seeded sampled k-means quantizer
    must (a) be bit-deterministic across fits, and (b) on a CLUSTERED
    fixture beat-or-match the lowest-id-centroid baseline's recall — the
    property that matters at production scale (lowest-id picks arbitrary
    members; k-means picks cluster centers, so nprobe cells cover the
    query's true neighborhood)."""
    rng = np.random.default_rng(23)
    # 5 well-separated Gaussian clusters in 16-d, 60 points each
    centers = rng.standard_normal((5, 16)) * 8.0
    pts = np.concatenate(
        [c + rng.standard_normal((60, 16)) for c in centers]
    ).astype(np.float32)
    # shuffle ids so cluster membership is uncorrelated with id order
    # (otherwise lowest-id centroids all land in cluster 0 trivially)
    perm = rng.permutation(len(pts))
    rows = [(int(i), [float(x) for x in pts[p]])
            for i, p in enumerate(perm)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cent_a = similarity.kmeans_centroids(df, n_cells=5, seed=7)
    cent_b = similarity.kmeans_centroids(df, n_cells=5, seed=7)
    assert cent_a == cent_b  # bit-identical -> oracle-shippable literals
    assert len(cent_a) == 5
    assert [cid for cid, _ in cent_a] == list(range(5))

    def recall(centroids):
        hits = 0
        for qi in (0, 17, 101, 250):
            q = [float(x) for x in rows[qi][1]]
            exact = {
                r["vec_id"] for r in
                similarity.cosine_topk_bruteforce(df, q, k=10).collect()
            }
            got = {
                r["vec_id"] for r in similarity.ivf_cosine_topk(
                    df, q, k=10, nprobe=1, centroids=centroids
                ).collect()
            }
            hits += len(got & exact)
        return hits / 40.0

    baseline_rows = df.orderBy("vec_id").limit(5).collect()
    baseline = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in baseline_rows
    ]
    r_kmeans = recall(cent_a)
    r_base = recall(baseline)
    assert r_kmeans >= r_base
    # on separated clusters, 1-probe k-means IVF should be near-exact
    assert r_kmeans >= 0.9

    # plumbing parity: semantic_dedup accepts the fitted centroids unchanged
    dups = similarity.semantic_dedup(df, tau=0.995, centroids=cent_a)
    assert dups.columns == ["vec_id", "dup_of", "cosine"]
    dups.collect()

    # centroids="kmeans" convenience == explicit fit (same seed)
    a = similarity.ivf_cosine_topk(
        df, [float(x) for x in rows[0][1]], k=10, n_cells=5, nprobe=1,
        centroids="kmeans", seed=7,
    ).collect()
    b = similarity.ivf_cosine_topk(
        df, [float(x) for x in rows[0][1]], k=10, nprobe=1,
        centroids=cent_a,
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in a] == [
        (r["vec_id"], r["cosine"]) for r in b
    ]


def test_embedding_near_dup_pairs(spark):
    rng = np.random.default_rng(9)
    base = rng.standard_normal(16).astype(np.float32)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base * 1.001]),  # same direction -> cos ~ 1
        (2, [float(x) for x in rng.standard_normal(16)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup_pairs(df, tau=0.99).collect()
    }
    assert (0, 1) in got


def test_textstats_exact(docs):
    rows = docs.collect()
    prof = {r["doc_id"]: r for r in textstats.text_profile(docs).collect()}
    for r in rows:
        toks = TOK.findall(r["text"])
        assert prof[r["doc_id"]]["n_tokens"] == len(toks)
        norm = " ".join(TOK.findall(r["text"].lower()))
        assert prof[r["doc_id"]]["fingerprint"] == hashlib.md5(
            norm.encode()
        ).hexdigest()
    lang = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(docs).collect()}
    assert lang[0] == "en"    # 'the' x2
    assert lang[3] == "py"    # import/def/return markers


def test_multimodal_plumbing(spark):
    media = multimodal.synthesize_media(spark, 30, seed=3)
    assert media.count() == 30
    feats = multimodal.extract_features(media, fake_decode=True).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert len(r["digest"]) == 64
    # determinism: same payload -> same features
    again = multimodal.extract_features(media, fake_decode=True).collect()
    a = {r["media_id"]: r["feature"] for r in feats}
    b = {r["media_id"]: r["feature"] for r in again}
    assert a == b
    # formats needing external codecs are an explicit stub
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNGxxxx", fake=False)
    plan = multimodal.frame_sample_plan(media, every_ms=60000)
    vids = media.where(F.col("kind") == "video").count()
    assert plan.select("media_id").distinct().count() == vids


def test_multimodal_real_ppm_decode(spark):
    """encode -> Spark decode roundtrip on REAL pixel data (pure-numpy PPM
    decoder), dims + pixel digest verified against the source arrays."""
    import hashlib

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    imgs = {
        i: rng.integers(0, 256, (int(rng.integers(1, 20)),
                                 int(rng.integers(1, 20)), 3)).astype(np.uint8)
        for i in range(25)
    }
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": list(imgs),
                "payload": [multimodal.encode_ppm(a) for a in imgs.values()],
            }
        )
    )
    out = {r["media_id"]: r for r in multimodal.decode_image_dims(media).collect()}
    assert len(out) == len(imgs)
    for i, a in imgs.items():
        r = out[i]
        assert (r["height"], r["width"]) == a.shape[:2]
        assert r["pixel_sha256"] == hashlib.sha256(a.tobytes()).hexdigest()


def test_multimodal_bmp_decode():
    """24-bit BMP (bottom-up, padded rows) decodes to the original RGB."""
    import numpy as np

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (6, 5, 3)).astype(np.uint8)
    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    raster = bytearray()
    for row in img[::-1]:
        raster += row[:, ::-1].tobytes()  # RGB -> BGR
        raster += b"\x00" * (stride - w * 3)
    off = 54
    hdr = b"BM" + (off + len(raster)).to_bytes(4, "little") + b"\x00" * 4
    hdr += off.to_bytes(4, "little") + (40).to_bytes(4, "little")
    hdr += w.to_bytes(4, "little", signed=True)
    hdr += h.to_bytes(4, "little", signed=True)
    hdr += (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
    hdr += (0).to_bytes(4, "little") + len(raster).to_bytes(4, "little")
    hdr += b"\x00" * 16
    out = multimodal.decode_image(bytes(hdr) + bytes(raster))
    assert (out == img).all()


def test_repetition_signals_exact(spark):
    rows = [
        # 4 lines, "dup line" twice -> 1 of 4 lines is a repeat copy
        (0, "dup line\nunique one\ndup line\nunique two"),
        # all lines distinct
        (1, "alpha\nbeta\ngamma"),
        # empty / whitespace-only doc: all signals 0
        (2, "   \n\n  "),
        # "x y" appears 3x among 5 grams; token chars = 6*1 = 6
        (3, "x y x y x y"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in textstats.repetition_signals(docs).collect()
    }
    # doc 0: 4 lines, 3 distinct -> dup_line_frac 1/4; chars 8+10+8+10=36,
    # distinct chars 8+10+10=28 -> char frac 8/36
    assert out[0]["dup_line_frac"] == pytest.approx(0.25)
    assert out[0]["dup_line_char_frac"] == pytest.approx(round(8 / 36, 6))
    assert out[1]["dup_line_frac"] == 0.0
    assert out[1]["dup_line_char_frac"] == 0.0
    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["top_2gram_frac"] == 0.0
    # doc 3 tokens: x y x y x y -> grams: "x y"(3), "y x"(2); top covers
    # 3 * 2 chars of 6 token chars = 1.0
    assert out[3]["top_2gram_frac"] == pytest.approx(1.0)
    # tie-break determinism: equal counts pick the lexicographically
    # smallest gram ("a b" over "b a" when both occur once... doc below)
    tie = spark.createDataFrame(
        [(9, "b a b")], "doc_id long, text string"
    )
    r9 = textstats.repetition_signals(tie).collect()[0]
    # grams "b a"(1), "a b"(1) -> pick "a b"; covers 2 of 3 token chars
    assert r9["top_2gram_frac"] == pytest.approx(round(2 / 3, 6))


def test_semantic_dedup_matches_bruteforce(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 8))
    rows = []
    vid = 0
    for b in base:
        for jitter in (0.0, 0.01, 0.02):  # three near-copies per cluster
            v = b + rng.normal(scale=jitter, size=8)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(i, r) for i, r in enumerate([list(b) for b in base])]
    out = {
        r["vec_id"]: r["dup_of"]
        for r in similarity.semantic_dedup(
            emb, tau=0.95, centroids=cents
        ).collect()
    }
    # brute-force replay of the keep-lowest-id rule within exact cells
    def cos(a, b):
        a, b = np.asarray(a), np.asarray(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    cell = {}
    for v_id, v in rows:
        sims = [(cos(v, c), -cid) for cid, c in cents]
        cell[v_id] = -max(sims)[1]
    expect = {}
    for v_id, v in rows:
        lower = [
            o for o, ov in rows
            if o < v_id and cell[o] == cell[v_id] and cos(ov, v) >= 0.95
        ]
        if lower:
            expect[v_id] = min(lower)
    assert out == expect
    assert len(expect) > 0  # the fixture actually exercises dedup


def test_corpus_prep_reasons_and_precedence(spark):
    from strucmotif_search_spark.operators import pipeline

    good = (
        "some reasonably long and varied content line here\n"
        "another distinct line with plenty of alphabetic words\n"
        "third line keeps the quality score comfortably high"
    )
    repeated = "repeat this line\n" * 10 + "one more unique closing line"
    rows = [
        (0, good),                      # kept, canonical for fp
        (1, "tiny doc"),                # too_short (2 tokens < 12)
        (2, "@@ ## $$ %% ^^ && ** (( )) !! ~~ ?? // \\\\ ;; :: .. ,, << >>"
            " @@ ## $$ %% ^^"),          # >=12 "tokens"? none match TOKEN_PATTERN -> too_short
        (3, good.upper()),              # same normalized fp as 0 -> exact_dup
        (4, repeated),                  # repetition (dup_line_frac 10/11... > 0.3)
        (5, good + " distinct tail markers alpha beta gamma delta"),  # kept
    ]
    # doc 2 actually has zero TOKEN_PATTERN tokens -> too_short fires first
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["keep"], r["drop_reason"])
        for r in pipeline.corpus_prep(docs, min_quality=0.3).collect()
    }
    assert out[0] == (True, None)
    assert out[1] == (False, "too_short")
    assert out[2] == (False, "too_short")
    assert out[3] == (False, "exact_dup")
    assert out[4] == (False, "repetition")
    assert out[5] == (True, None)

    # precedence: a doc that is BOTH too short and a dup of a kept doc
    # reports too_short (first stage wins), and never claims canonical
    # status: doc 10 is a short dup of nothing kept -> too_short, and a
    # full-quality copy (11) of it is canonical for its own fingerprint
    rows2 = [
        (10, "dup text"),
        (11, "dup text " * 6),  # 12 tokens, survives, own fp
        (12, "dup text " * 6),  # exact dup of 11
    ]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    out2 = {
        r["doc_id"]: (r["keep"], r["drop_reason"])
        for r in pipeline.corpus_prep(
            docs2, min_quality=0.0, max_top_2gram_frac=2.0
        ).collect()
    }
    assert out2[10] == (False, "too_short")
    assert out2[11] == (True, None)
    assert out2[12] == (False, "exact_dup")

    # summary partitions the corpus: counts per outcome sum to the input
    summ = {
        r["outcome"]: r["n_docs"]
        for r in pipeline.prep_summary(
            pipeline.corpus_prep(docs, min_quality=0.3)
        ).collect()
    }
    assert sum(summ.values()) == len(rows)
    assert summ["kept"] == 2 and summ["too_short"] == 2


def _winnow_ref(text, k=3, w=4):
    """Reference winnowing in plain Python: returns {(pos, fp)}."""
    toks = [t for t in TOK.findall(text.lower())]
    grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:10], 16) for g in grams
    ]
    out = set()
    for p in range(len(hs)):
        lo = max(0, p - w + 1)
        best = min(range(lo, p + 1), key=lambda i: (hs[i], -i))
        out.add((best, hs[best]))
    return out


def test_winnow_matches_reference(docs):
    from strucmotif_search_spark.operators import fingerprint

    got = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in fingerprint.winnow(docs, k=3, w=4).collect()
    }
    want = set()
    for r in docs.collect():
        for pos, fp in _winnow_ref(r["text"]):
            want.add((r["doc_id"], pos, fp))
    assert got == want


def test_winnow_guarantee_and_overlap(spark):
    """Docs sharing a k+w-1-token run MUST share a fingerprint (the
    winnowing recall guarantee), and overlap pairs surface them."""
    from strucmotif_search_spark.operators import fingerprint

    shared = "alpha beta gamma delta epsilon zeta"  # 6 = k + w - 1
    rows = [
        (0, "xx yy " + shared + " q r s"),
        (1, shared + " totally other words here"),
        (2, "nothing in common at all with those"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    fps = fingerprint.winnow(d, k=3, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1], "guaranteed shared fingerprint missing"
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in fingerprint.winnow_overlap_pairs(
            d, k=3, w=4, min_common=1
        ).collect()
    }
    assert (0, 1) in pairs
    assert all(2 not in p for p in pairs)


def test_winnow_hot_fp_cap(spark):
    """max_fp_df drops corpus-hot fingerprints from pair generation."""
    from strucmotif_search_spark.operators import fingerprint

    boiler = "this boilerplate header appears everywhere verbatim"
    rows = [(i, boiler) for i in range(5)] + [
        (10, "unique body one " + boiler),
        (11, "unique body one " + boiler),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = fingerprint.winnow_overlap_pairs(d, min_common=1).count()
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in fingerprint.winnow_overlap_pairs(
            d, min_common=1, max_fp_df=4
        ).collect()
    }
    assert uncapped == 21  # all 7 docs pair via the boilerplate
    # boilerplate fps (df=7) are excluded; only the two docs sharing the
    # "unique body one" prefix still pair, via their low-df fingerprints
    assert capped == {(10, 11)}


def test_connected_components_chain_and_cliques(spark):
    """A 12-node chain (worst diameter) plus two cliques and a singleton
    pair: labels must converge to the component minimum."""
    chain = [(i, i + 1) for i in range(100, 112)]
    cliq = [(a, b) for a in (0, 1, 2) for b in (0, 1, 2) if a < b]
    other = [(7, 9), (9, 8)]
    pairs = spark.createDataFrame(
        chain + cliq + other, "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert all(got[n] == 100 for n in range(100, 113))
    assert all(got[n] == 0 for n in (0, 1, 2))
    assert all(got[n] == 7 for n in (7, 8, 9))
    # every doc in a pair got a row; nothing else did
    assert set(got) == set(range(100, 113)) | {0, 1, 2, 7, 8, 9}


def test_connected_components_max_iter_raises(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        dedup.connected_components(pairs, max_iter=1)


def test_collocations_pmi_exact(spark):
    """PMI against a hand-computed reference on a tiny corpus."""
    import math

    rows = [
        (0, "new york new york city hall"),
        (1, "new york is big city hall is old"),
        (2, "hall of fame in new york"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["gram"]: (r["n_ab"], r["pmi"])
        for r in textstats.collocations(d, min_count=2, top=10).collect()
    }
    toks = [TOK.findall(t.lower()) for _, t in rows]
    bi = {}
    for ts in toks:
        for a, b in zip(ts, ts[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    t_bi = sum(bi.values())
    n_l = {}
    n_r = {}
    for (a, b), n in bi.items():
        n_l[a] = n_l.get(a, 0) + n
        n_r[b] = n_r.get(b, 0) + n
    for (a, b), n_ab in bi.items():
        if n_ab >= 2:
            pmi = round(
                math.log(
                    (n_ab / t_bi) / ((n_l[a] / t_bi) * (n_r[b] / t_bi))
                ),
                6,
            )
            assert got[f"{a} {b}"] == (n_ab, pmi)
    assert len(got) == sum(1 for v in bi.values() if v >= 2)


def test_tfidf_top_terms_from_index(spark, tmp_path):
    """TF-IDF from the published index equals a naive recompute."""
    import math

    from strucmotif_search_spark.build import IndexStore, build_index
    from strucmotif_search_spark.engine import SearchEngine
    from strucmotif_search_spark.query.analytics import tfidf_top_terms

    rows = [
        (0, "spark spark spark index", "p0"),
        (1, "spark index engine", "p1"),
        (2, "engine tuning notes notes", "p2"),
    ]
    corpus = spark.createDataFrame(
        rows, "doc_id long, content string, path string"
    ).select(
        "path", "content",
        F.lit("r").alias("repo"), F.lit("c").alias("commit"),
        F.lit("txt").alias("lang"),
    )
    store = IndexStore(str(tmp_path / "idx"))
    build_index(spark, corpus, store)
    eng = SearchEngine(spark, store)
    dm = {r["path"]: r["doc_id"] for r in eng.doc_map.collect()}
    got = {
        (r["doc_id"], r["term"]): r["tfidf"]
        for r in tfidf_top_terms(eng, k=2).collect()
    }
    texts = {dm[p]: c.split() for _, c, p in [(i, c, p) for i, c, p in rows]}
    n = 3
    df = {}
    for ts in texts.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    for d, ts in texts.items():
        scored = sorted(
            (
                (
                    round(
                        ts.count(t) * (math.log((n + 1) / (df[t] + 1)) + 1), 6
                    ),
                    t,
                )
                for t in set(ts)
            ),
            key=lambda x: (-x[0], x[1]),
        )[:2]
        for s, t in scored:
            assert got[(d, t)] == s


def test_near_dedup_survivor_policy(spark):
    """Chain A~B, B~C: exactly A survives; unrelated doc keeps itself."""
    from strucmotif_search_spark.operators import pipeline

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in pipeline.near_dedup(docs, pairs).collect()
    }
    assert got == {1: (1, True), 2: (1, False), 3: (1, False), 9: (9, True)}


def test_new_op_plan_shapes(spark):
    """Pin the PLANS.md §16 plan-shape claims: winnow is shuffle-free with
    once-per-row md5 key materialization; collocations top-k is a
    TakeOrderedAndProject, not a global sort."""
    from strucmotif_search_spark.operators import fingerprint

    d = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta") for i in range(64)],
        "doc_id long, text string",
    )
    plan = (
        fingerprint.winnow(d)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # keys materialized once: the md5 tree appears in exactly one Project
    assert plan.count("md5") == 1, plan
    assert plan.count("regexp_extract_all") == 1, plan
    phys = (
        fingerprint.winnow(d)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # doc-local: no shuffle beyond the small-file widen (RoundRobin)
    import re as _re

    exchanges = _re.findall(r"Exchange \w+", phys)
    assert all("RoundRobin" in e or "SinglePartition" in e for e in exchanges), phys
    cplan = (
        textstats.collocations(d, min_count=2, top=5, materialize=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in cplan, cplan


def test_sample_stratified_deterministic_and_rated(spark):
    """Per-stratum hash sampling: deterministic across runs and
    repartitioning, rate-accurate, rate-0 strata empty, rate-1 complete."""
    from strucmotif_search_spark.operators import pipeline

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(3000)]
    d = spark.createDataFrame(rows, "doc_id long, stratum string")
    rates = {"a": 1.0, "b": 0.5, "c": 0.0}
    got1 = {
        r["doc_id"]
        for r in pipeline.sample_stratified(
            d, rates, strata_col="stratum", seed=3
        ).collect()
    }
    got2 = {
        r["doc_id"]
        for r in pipeline.sample_stratified(
            d.repartition(7), rates, strata_col="stratum", seed=3
        ).collect()
    }
    assert got1 == got2  # partitioning-independent
    a = {i for i in got1 if i % 3 == 0}
    b = {i for i in got1 if i % 3 == 1}
    c = {i for i in got1 if i % 3 == 2}
    assert len(a) == 1000 and len(c) == 0
    assert 400 <= len(b) <= 600  # ~0.5 of 1000
    # a different seed draws a different subset of stratum b
    got3 = {
        r["doc_id"]
        for r in pipeline.sample_stratified(
            d, rates, strata_col="stratum", seed=4
        ).collect()
    }
    assert {i for i in got3 if i % 3 == 1} != b


def test_winnow_randomized_batch_vs_reference(spark):
    """100 random documents (varied alphabet/length, one Spark job) against
    the pure-Python winnowing reference — includes all-tie runs, repeated
    grams, and sub-k docs."""
    import random

    rng = random.Random(1234)
    words = [f"w{i}" for i in range(12)] + ["x"]
    rows = []
    for i in range(100):
        n = rng.randrange(0, 40)
        rows.append((i, " ".join(rng.choice(words) for _ in range(n))))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    from strucmotif_search_spark.operators import fingerprint

    got = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in fingerprint.winnow(d, k=3, w=4).collect()
    }
    want = {
        (i, pos, fp)
        for i, t in rows
        for pos, fp in _winnow_ref(t, k=3, w=4)
    }
    assert got == want


def test_connected_components_randomized_vs_union_find(spark):
    """Random 300-edge graph vs a plain union-find reference."""
    import random

    rng = random.Random(99)
    edges = [
        (rng.randrange(0, 120), rng.randrange(0, 120)) for _ in range(300)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(120))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {a for e in edges for a in e}
    want = {n: find(n) for n in touched}
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# round-4 additions: decontamination, bigram-LM scoring, sequence packing
# ---------------------------------------------------------------------------

_R4_DOCS = [
    (0, "en", "the quick brown fox jumps over the lazy dog tonight"),
    (1, "en", "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG tonight extra"),
    (2, "en", "completely unrelated text about spark query planners"),
    (3, "py", "import numpy as np def main return np exit now"),
    (4, "py", ""),
    (5, "py", "short text"),
    (6, "en", "the quick brown fox jumps over the lazy dog barks"),
]


def _r4_df(spark):
    return spark.createDataFrame(
        _R4_DOCS, "doc_id long, lang string, text string"
    )


def _grams8(text, n=8):
    toks = [t.lower() for t in TOK.findall(text)]
    return {" ".join(toks[i: i + n]) for i in range(len(toks) - n + 1)}


def test_decontaminate_exact(spark):
    docs = _r4_df(spark)
    bench = docs.where(F.col("doc_id") == 0)
    bset = _grams8(_R4_DOCS[0][2])
    expected = {
        did: len(_grams8(text) & bset) for did, _, text in _R4_DOCS
    }
    got = {
        r["doc_id"]: (r["n_hit_grams"], r["contaminated"])
        for r in dedup.decontaminate(docs, bench, n=8).collect()
    }
    assert set(got) == set(expected)
    for did, n_hit in expected.items():
        assert got[did] == (n_hit, n_hit > 0), (did, got[did], n_hit)
    # doc 1 is a casefolded copy sharing every 8-gram; doc 6 ends
    # differently but still shares a full 8-token run; doc 2/4/5 are clean
    assert got[1][1] and got[6][1]
    assert not got[2][1] and not got[4][1] and not got[5][1]


def test_decontaminate_plan_broadcast(spark):
    docs = _r4_df(spark)
    phys = (
        dedup.decontaminate(docs, docs.where(F.col("doc_id") == 0), n=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in phys, phys
    assert "BroadcastHashJoin" in phys, phys


def test_lm_score_exact(spark):
    import math
    from collections import Counter

    docs = _r4_df(spark)
    tok = {
        did: [t.lower() for t in TOK.findall(text)]
        for did, _, text in _R4_DOCS
    }
    bigrams = Counter(
        (ts[i], ts[i + 1]) for ts in tok.values() for i in range(len(ts) - 1)
    )
    marginal = Counter()
    for (a, _b), c in bigrams.items():
        marginal[a] += c
    vocab = len({t for ts in tok.values() for t in ts})
    expected = {}
    for did, ts in tok.items():
        lps = [
            math.log(
                (bigrams[(ts[i], ts[i + 1])] + 1.0)
                / (marginal[ts[i]] + vocab)
            )
            for i in range(len(ts) - 1)
        ]
        expected[did] = (
            len(lps), round(sum(lps) / len(lps), 4) if lps else 0.0
        )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["lm_logprob"])
        for r in textstats.lm_score(docs).collect()
    }
    assert set(got) == set(expected)
    for did, (n, lp) in expected.items():
        assert got[did][0] == n, (did, got[did], n)
        assert abs(got[did][1] - lp) < 1e-9, (did, got[did], lp)


def _pack_reference(rows, budget):
    """Single-stream python reference for concat-then-chunk packing."""
    out = {}
    bylang: dict[str, list] = {}
    for did, lang, text in rows:
        bylang.setdefault(lang, []).append((did, len(TOK.findall(text))))
    for lang, docs_ in bylang.items():
        start = 0
        for did, n in sorted(docs_):
            end_tok = max(start, start + n - 1)
            out[did] = (lang, n, start, start // budget, end_tok // budget)
            start += n
    return out


@pytest.mark.parametrize("bucket", [1, 3, 10_000])
def test_pack_sequences_exact(spark, bucket):
    """Exact vs the single-stream reference at three bucket widths: every
    doc its own bucket, buckets of 3 ids (split mid-lang), and one bucket
    (degenerates to the plain window) — the two-level prefix sum must be
    invariant to the bucketing."""
    from strucmotif_search_spark.operators import pipeline

    docs = _r4_df(spark)
    expected = _pack_reference(_R4_DOCS, budget=10)
    got = {
        r["doc_id"]: (
            r["lang"], r["n_tokens"], r["start_off"],
            r["seq_first"], r["seq_last"],
        )
        for r in pipeline.pack_sequences(
            docs, budget=10, bucket=bucket
        ).collect()
    }
    assert got == expected
    # the fixture must actually exercise boundary crossing + the empty doc
    crossing = [d for d, v in expected.items() if v[4] > v[3]]
    assert crossing, expected
    assert expected[4][1] == 0 and expected[4][3] == expected[4][4]


def test_pack_sequences_plan_no_global_window(spark):
    from strucmotif_search_spark.operators import pipeline

    docs = _r4_df(spark)
    phys = (
        pipeline.pack_sequences(docs, budget=10, bucket=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # both windows carry partition keys: no single-partition funnel
    assert "SinglePartition" not in phys, phys
    assert "_bkt" in phys, phys


# ---------------------------------------------------------------------------
# sketches: HLL registers, Misra-Gries heavy hitters, index facet counts
# ---------------------------------------------------------------------------


def _hll_python(values, p=8):
    import hashlib

    m = 1 << p
    hx = p // 4
    reg = {}
    for v in set(values):
        h = hashlib.md5(v.encode()).hexdigest()
        b = int(h[:hx], 16)
        rem = int(h[hx:hx + 10], 16)
        rho = 41 if rem == 0 else 41 - (len(bin(rem)) - 2)
        reg[b] = max(reg.get(b, 0), rho)
    return {i: reg.get(i, 0) for i in range(m)}


def test_hll_registers_match_python_replay(spark):
    from strucmotif_search_spark.operators import sketches

    vals = [f"item_{i % 97}" for i in range(500)] + ["dup"] * 50
    df = spark.createDataFrame([(v,) for v in vals], "v string").repartition(7)
    got = {
        r["register"]: r["max_rho"]
        for r in sketches.hll_registers(df, "v", p=8).collect()
    }
    assert got == _hll_python(vals, 8)


def test_hll_estimate_and_register_merge(spark):
    from strucmotif_search_spark.operators import sketches

    a = spark.createDataFrame([(f"a{i}",) for i in range(400)], "v string")
    b = spark.createDataFrame(
        [(f"a{i}",) for i in range(200, 600)], "v string"
    )
    est = sketches.hll_estimate(sketches.hll_registers(a.union(b), "v"))
    assert abs(est - 600) / 600 < 0.25  # p=8 std err ~6.5%; generous bound
    # sketch merge law: registers(A ∪ B) == element-wise max — what makes
    # the sketch additive across incremental generations
    ra = {
        r["register"]: r["max_rho"]
        for r in sketches.hll_registers(a, "v").collect()
    }
    rb = {
        r["register"]: r["max_rho"]
        for r in sketches.hll_registers(b, "v").collect()
    }
    ru = {
        r["register"]: r["max_rho"]
        for r in sketches.hll_registers(a.union(b), "v").collect()
    }
    assert ru == {i: max(ra[i], rb[i]) for i in ra}


def test_hll_p_validation(spark):
    from strucmotif_search_spark.operators import sketches

    df = spark.createDataFrame([("x",)], "v string")
    for bad in (6, 0, 20):
        with pytest.raises(ValueError):
            sketches.hll_registers(df, "v", p=bad)


def _hh_docs(spark, counts: dict[str, int], n_parts: int = 7):
    """One doc per token occurrence, spread over n_parts partitions, so the
    per-partition MG summaries genuinely have to merge."""
    rows = [(i, t) for i, t in enumerate(
        t for t, c in sorted(counts.items()) for _ in range(c)
    )]
    return spark.createDataFrame(rows, "doc_id long, text string").repartition(
        n_parts
    )


def test_heavy_hitters_exact_and_boundary(spark):
    from strucmotif_search_spark.operators import sketches

    # total = 100, k = 3 -> keep n*4 > 100.  'boundary' sits EXACTLY at
    # n*(k+1) == total and must be excluded (strict inequality).
    counts = {"hot": 40, "boundary": 25, "warm": 20}
    counts.update({f"tail{i}": 1 for i in range(15)})
    docs = _hh_docs(spark, counts)
    got = {
        r["term"]: r["n"]
        for r in sketches.heavy_hitters(docs, k=3).collect()
    }
    assert got == {"hot": 40}


def test_heavy_hitters_matches_exact_counter(spark):
    from collections import Counter

    from strucmotif_search_spark.operators import sketches

    # adversarial-ish: many distinct terms per partition with tiny k, so the
    # MG trim path runs repeatedly; output must STILL be exact (candidates
    # are a superset, verify is exact)
    counts = {f"t{i:03d}": (i % 9) + 1 for i in range(120)}
    counts["dominant"] = 400
    counts["second"] = 150
    docs = _hh_docs(spark, counts, n_parts=5)
    for k in (1, 2, 8):
        total = sum(counts.values())
        want = {
            t: c for t, c in counts.items() if c * (k + 1) > total
        }
        got = {
            r["term"]: r["n"]
            for r in sketches.heavy_hitters(docs, k=k).collect()
        }
        assert got == want, (k, got, want)


def test_heavy_hitters_plan_broadcast_verify(spark):
    from strucmotif_search_spark.operators import sketches

    docs = _hh_docs(spark, {"a": 30, "b": 3})
    phys = (
        sketches.heavy_hitters(docs, k=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in phys, phys
    assert "CartesianProduct" not in phys, phys


def test_facet_counts_vs_bruteforce(spark, tmp_path):
    from strucmotif_search_spark.build import IndexStore, build_index
    from strucmotif_search_spark.engine import SearchEngine
    from strucmotif_search_spark.query.analytics import facet_counts

    rows = [
        (0, "r0", "alpha beta gamma"),
        (1, "r0", "alpha alpha delta"),
        (2, "r1", "beta beta beta"),
        (3, "r1", "gamma delta"),
        (4, "r2", "epsilon zeta"),
        (5, "r2", "alpha beta"),
    ]
    corpus = spark.createDataFrame(
        rows, "doc_id long, repo string, content string"
    ).select(
        "repo", F.col("doc_id").cast("string").alias("path"), "content",
        F.lit("c").alias("commit"), F.lit("txt").alias("lang"),
    )
    store = IndexStore(str(tmp_path / "fidx"))
    build_index(spark, corpus, store)
    eng = SearchEngine(spark, store)

    def brute(terms, mode):
        out = {}
        for _, repo, text in rows:
            toks = set(text.split())
            hit = (
                any(t in toks for t in terms)
                if mode == "or"
                else all(t in toks for t in terms)
            )
            if hit:
                out[repo] = out.get(repo, 0) + 1
        return out

    for q, mode in [
        ("alpha beta", "or"),
        ("alpha beta", "and"),
        ("gamma", "or"),
        ("alpha alpha", "or"),   # repeated token dedup
    ]:
        got = {
            r["repo"]: r["n_docs"]
            for r in facet_counts(eng, q, "repo", mode).collect()
        }
        assert got == brute(q.split(), mode), (q, mode)
    # absent term: OR ignores it, AND empties the result
    assert {
        r["repo"]: r["n_docs"]
        for r in facet_counts(eng, "alpha zz_missing", "repo", "or").collect()
    } == brute(["alpha"], "or")
    assert facet_counts(eng, "alpha zz_missing", "repo", "and").count() == 0
    assert facet_counts(eng, "zz_missing", "repo", "or").count() == 0


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------

def test_cms_table_matches_python_replay(spark):
    import hashlib

    from strucmotif_search_spark.operators import sketches

    vals = ["a", "b", "a", "c", "a", "b", "x_long_token"] * 5
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    got = {
        (r["hash_row"], r["bucket"]): r["cnt"]
        for r in sketches.cms_table(df, "t", depth=3, width_bits=8).collect()
    }
    want: dict = {}
    for v in vals:
        for d in range(3):
            h = hashlib.md5(f"{d}|{v}".encode()).hexdigest()
            key = (d, int(h[:8], 16) % 256)
            want[key] = want.get(key, 0) + 1
    assert got == want


def test_cms_estimate_never_undercounts(spark):
    import collections

    from strucmotif_search_spark.operators import sketches

    rng_vals = [f"tok{i % 37}" for i in range(1000)] + ["rare_one"]
    df = spark.createDataFrame([(v,) for v in rng_vals], "t string")
    cms = sketches.cms_table(df, "t", depth=4, width_bits=10).cache()
    truth = collections.Counter(rng_vals)
    est = sketches.cms_estimate(
        cms, ["tok0", "tok5", "rare_one", "zz_absent"],
        depth=4, width_bits=10,
    )
    for t in ["tok0", "tok5", "rare_one"]:
        assert est[t] >= truth[t]
        assert est[t] <= truth[t] + len(rng_vals) // (1 << 10) + 32
    assert est["zz_absent"] >= 0  # absent may collide but never negative
    # empty probe list: natural empty dict, no where(None) crash
    assert sketches.cms_estimate(cms, [], depth=4, width_bits=10) == {}
    cms.unpersist()


def test_cms_merge_is_additive(spark):
    from strucmotif_search_spark.operators import sketches
    import pyspark.sql.functions as F

    a = spark.createDataFrame([("x",), ("y",), ("x",)], "t string")
    b = spark.createDataFrame([("x",), ("z",)], "t string")
    whole = sketches.cms_table(a.unionByName(b), "t", depth=2, width_bits=6)
    parts = (
        sketches.cms_table(a, "t", depth=2, width_bits=6)
        .unionByName(sketches.cms_table(b, "t", depth=2, width_bits=6))
        .groupBy("hash_row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, parts.collect())
    )


def test_remove_boilerplate_lines_exact(spark):
    """C4 boilerplate removal on a newline corpus: repeated header/footer
    lines vanish, unique lines survive in order, all-boilerplate docs come
    back empty (not missing), short lines are exempt."""
    from strucmotif_search_spark.operators.pipeline import (
        remove_boilerplate_lines,
    )

    hdr, ftr = "COPYRIGHT 2024 ACME", "unsubscribe here"
    rows = [
        (0, f"{hdr}\nalpha beta\n\n{ftr}"),
        (1, f"{hdr}\ngamma delta\n{ftr}"),
        (2, f"{hdr}\n{ftr}"),                  # all boilerplate
        (3, "standalone document text"),
        (4, f"{hdr}\nepsilon\nzeta\n{ftr}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text_clean"], r["lines_removed"], r["lines_kept"])
        for r in remove_boilerplate_lines(docs, min_docs=3).collect()
    }
    assert len(out) == 5
    # empty line in doc 0 is exempt (min_line_chars) and survives in place
    assert out[0] == ("alpha beta\n", 2, 2)
    assert out[1] == ("gamma delta", 2, 1)
    assert out[2] == ("", 2, 0)                # empty, not missing
    assert out[3] == ("standalone document text", 0, 1)
    assert out[4] == ("epsilon\nzeta", 2, 2)

    # min_doc_frac form: 3/5 of the corpus == min_docs=3
    out_frac = {
        r["doc_id"]: r["text_clean"]
        for r in remove_boilerplate_lines(
            docs, min_docs=None, min_doc_frac=0.6
        ).collect()
    }
    assert out_frac == {d: t for d, (t, _r, _k) in out.items()}

    with pytest.raises(ValueError):
        remove_boilerplate_lines(docs, min_docs=None, min_doc_frac=None)

    # custom separator is treated literally even when regex-special
    docs2 = spark.createDataFrame(
        [(0, "a|b|x"), (1, "a|b|y"), (2, "a|b|z")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["text_clean"]
        for r in remove_boilerplate_lines(docs2, min_docs=3, sep="|").collect()
    }
    assert got == {0: "x", 1: "y", 2: "z"}


def test_facet_histogram_vs_bruteforce(spark, tmp_path):
    from strucmotif_search_spark.build import IndexStore, build_index
    from strucmotif_search_spark.engine import SearchEngine
    from strucmotif_search_spark.query.analytics import facet_histogram

    rows = [
        (0, "alpha " * 3),              # doclen 3  -> bucket 0 (interval 4)
        (1, "alpha beta " + "x " * 6),  # doclen 8  -> bucket 8
        (2, "beta " * 5),               # doclen 5  -> bucket 4
        (3, "gamma delta"),             # no match
        (4, "alpha " + "y " * 12),      # doclen 13 -> bucket 12
    ]
    corpus = spark.createDataFrame(
        rows, "doc_id long, content string"
    ).select(
        F.lit("r").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        "content",
        F.lit("c").alias("commit"),
        F.lit("txt").alias("lang"),
    )
    store = IndexStore(str(tmp_path / "hidx"))
    build_index(spark, corpus, store)
    eng = SearchEngine(spark, store)

    got = {
        r["bucket"]: r["n_docs"]
        for r in facet_histogram(
            eng, "alpha beta", interval=4, mode="or"
        ).collect()
    }
    # brute: docs 0 (len 3), 1 (len 8), 2 (len 5), 4 (len 13) match
    assert got == {0: 1, 4: 1, 8: 1, 12: 1}
    # AND narrows to doc 1 only
    got_and = {
        r["bucket"]: r["n_docs"]
        for r in facet_histogram(
            eng, "alpha beta", interval=4, mode="and"
        ).collect()
    }
    assert got_and == {8: 1}
    # empty match set -> empty frame with the contract schema
    empty = facet_histogram(eng, "zz_absent", interval=4)
    assert empty.count() == 0
    assert empty.columns == ["bucket", "n_docs"]
    with pytest.raises(ValueError):
        facet_histogram(eng, "alpha", interval=0)


def test_count_matches_vs_bruteforce(spark, tmp_path):
    from strucmotif_search_spark.build import IndexStore, build_index
    from strucmotif_search_spark.engine import SearchEngine

    rows = [
        (0, "alpha beta gamma"),
        (1, "alpha alpha delta"),
        (2, "beta beta beta"),
        (3, "gamma delta"),
    ]
    corpus = spark.createDataFrame(
        rows, "doc_id long, content string"
    ).select(
        F.lit("r").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        "content", F.lit("c").alias("commit"), F.lit("txt").alias("lang"),
    )
    store = IndexStore(str(tmp_path / "cidx"))
    build_index(spark, corpus, store)
    eng = SearchEngine(spark, store)
    assert eng.count_matches("alpha beta", mode="or") == 3
    assert eng.count_matches("alpha beta", mode="and") == 1
    assert eng.count_matches("zz_absent") == 0
    assert eng.count_matches("zz_absent alpha", mode="and") == 0


# ---- round 5: vectorized IVF assignment + reseed discipline --------------


def _seq_assign_reference(vec, centroids):
    """Nearest centroid by cosine in pure Python float64, every sum started
    at 0.0 and added dimension by dimension (cosine_expr's order, which
    the SQL oracles replay); exact ties go to the smallest cid."""
    best = None
    for cid, cv in sorted(centroids):
        dot = xx = cc = 0.0
        for a, c in zip(vec, cv):
            dot += a * c
        for a in vec:
            xx += a * a
        for c in cv:
            cc += c * c
        sim = dot / (math.sqrt(xx) * math.sqrt(cc))
        if best is None or sim > best[0]:
            best = (sim, cid)
    return best[1]


def test_ivf_assign_matches_sequential_reference(spark):
    """ivf_assign equals the pure-Python sequential-sum reference at 8 and
    at 256 cells, and on exact ties: constant vectors against centroids
    that are coordinate permutations of one another tie on every cosine,
    which a reordered (GEMM) sum splits by last-ulp noise."""
    rng = np.random.default_rng(31)
    dim = 16
    vecs = rng.standard_normal((200, dim)).astype(np.float32)
    base = rng.standard_normal(dim).astype(np.float32)
    consts = rng.standard_normal(200).astype(np.float32)
    cases = {
        "8 cells": (vecs, vecs[:8]),
        "256 cells": (vecs, rng.standard_normal((256, dim)).astype(np.float32)),
        "exact tie": (
            np.repeat(consts[:, None], dim, axis=1),
            np.stack([base[rng.permutation(dim)] for _ in range(8)]),
        ),
    }
    for name, (xs, cs) in cases.items():
        rows = [(i, [float(x) for x in xs[i]]) for i in range(len(xs))]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        centroids = [(i, [float(x) for x in c]) for i, c in enumerate(cs)]
        got = {
            r["vec_id"]: r["c"]
            for r in df.select(
                "vec_id",
                similarity.ivf_assign(F.col("embedding"), centroids).alias("c"),
            ).collect()
        }
        want = {i: _seq_assign_reference(v, centroids) for i, v in rows}
        assert got == want, name
    # a zero vector has no cosine to anything: it goes to the smallest cid
    zero = spark.createDataFrame(
        [(0, [0.0] * dim)], "vec_id long, embedding array<float>"
    )
    centroids = [(7, [1.0] * dim), (3, [2.0] * dim)]
    assert zero.select(
        similarity.ivf_assign(F.col("embedding"), centroids)
    ).first()[0] == 3


def test_zero_norm_centroid_rejected(spark, tmp_path):
    """A zero-norm centroid has no cosine to anything: every IVF entry
    point rejects it by cid instead of letting it capture all vectors or
    none."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 1.0])], "vec_id long, embedding array<float>"
    )
    centroids = [(0, [1.0, 0.0]), (3, [0.0, 0.0]), (5, [0.0, 1.0])]
    with pytest.raises(ValueError, match="cid 3"):
        similarity.ivf_assign(F.col("embedding"), centroids)
    with pytest.raises(ValueError, match="cid 3"):
        similarity.ivf_cosine_topk(df, [1.0, 1.0], centroids=centroids)
    with pytest.raises(ValueError, match="cid 3"):
        similarity.ivf_cosine_topk_partitioned(
            spark, str(tmp_path / "absent"), [1.0, 1.0], centroids
        )


def test_lloyd_simultaneous_empty_cells_reseed_distinct():
    """Round-4 ADVICE (low): two cells going empty in the SAME Lloyd pass
    must be reseeded to DISTINCT points, chosen against the CURRENT (not
    stale) centroids.  Init [a, a, a, b] over two separated clusters: ties
    send every A-point to cell 0, so cells 1 and 2 are empty in one pass."""
    rng = np.random.default_rng(41)
    a = np.array([10.0] + [0.0] * 15)
    b = np.array([-10.0] + [0.0] * 15)
    pts = np.concatenate([
        a + rng.standard_normal((6, 16)) * 0.05,
        b + rng.standard_normal((6, 16)) * 0.05,
    ])
    xn = pts / np.linalg.norm(pts, axis=1)[:, None]
    an = a / np.linalg.norm(a)
    bn = b / np.linalg.norm(b)
    cent = np.stack([an, an, an, bn])
    out = similarity._lloyd(xn.copy(), cent.copy(), iters=1)
    # every centroid row distinct after the pass (reseeds did not collide)
    uniq = {tuple(np.round(row, 12)) for row in out}
    assert len(uniq) == 4
    # reseeded rows are actual data points (unit-norm members of xn)
    xset = {tuple(np.round(row, 12)) for row in xn}
    reseeded = [row for row in out if tuple(np.round(row, 12)) in xset]
    assert len(reseeded) >= 2


def test_remove_boilerplate_lines_hashed(spark):
    """hash_key=True (production 8-byte xxhash64 agg/join key) must produce
    byte-identical results to the string-keyed path on a collision-free
    corpus — including the frac form and a regex-special separator."""
    from strucmotif_search_spark.operators.pipeline import (
        remove_boilerplate_lines,
    )

    hdr, ftr = "COPYRIGHT 2024 ACME", "unsubscribe here"
    rows = [
        (0, f"{hdr}\nalpha beta\n\n{ftr}"),
        (1, f"{hdr}\ngamma delta\n{ftr}"),
        (2, f"{hdr}\n{ftr}"),
        (3, "standalone document text"),
        (4, f"{hdr}\nepsilon\nzeta\n{ftr}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(
        remove_boilerplate_lines(docs, min_docs=3).collect(),
        key=lambda r: r["doc_id"],
    )
    hashed = sorted(
        remove_boilerplate_lines(docs, min_docs=3, hash_key=True).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [tuple(r) for r in base] == [tuple(r) for r in hashed]

    docs2 = spark.createDataFrame(
        [(0, "a|b|x"), (1, "a|b|y"), (2, "a|b|z")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["text_clean"]
        for r in remove_boilerplate_lines(
            docs2, min_docs=3, sep="|", hash_key=True
        ).collect()
    }
    assert got == {0: "x", 1: "y", 2: "z"}


def test_ivf_partitioned_layout_prunes_and_matches(spark, tmp_path):
    """write_ivf_partitioned + ivf_cosine_topk_partitioned: the probe is a
    PARTITION filter (pruned scan — fewer partition dirs read than exist)
    and the answers match the in-memory IVF path with the same centroids."""
    rng = np.random.default_rng(53)
    vecs = rng.standard_normal((400, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent_rows = df.orderBy("vec_id").limit(8).collect()
    centroids = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in cent_rows
    ]
    path = str(tmp_path / "ivf_corpus")
    similarity.write_ivf_partitioned(df, path, centroids)

    import os

    cells_on_disk = {
        d for d in os.listdir(path) if d.startswith("cell=")
    }
    assert len(cells_on_disk) == 8  # every cell materialized

    q = [float(x) for x in vecs[0]]
    got = similarity.ivf_cosine_topk_partitioned(
        spark, path, q, centroids, k=10, nprobe=3
    )
    want = similarity.ivf_cosine_topk(
        df, q, k=10, nprobe=3, centroids=centroids
    )
    assert [(r["vec_id"], round(r["cosine"], 9)) for r in got.collect()] == [
        (r["vec_id"], round(r["cosine"], 9)) for r in want.collect()
    ]

    # plan shape: the cell predicate reaches the scan as a partition
    # filter (pruned to nprobe=3 of 8 partitions), not a post-scan Filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*\]", plan)
    assert m is not None, plan
