"""Behavioral tests for the data-pipeline operators that have no SQL
oracle (SimHash, mapInPandas decode), plus semantic checks the oracle
comparison can't express (near-dup recall, ANN vs exact agreement)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dpu_olap_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


def _q(name):
    return all_queries()[name]


def test_simhash_identical_text_identical_signature(spark):
    """The augmented corpus duplicates doc_id%10==0 docs at -id-1; their
    SimHash signatures must be bit-identical."""
    sig = {r.doc_id: r.simhash for r in _q("simhash").build(spark, SF).collect()}
    dup_ids = [d for d in sig if d < 0]
    assert dup_ids, "augmented corpus missing duplicate docs"
    for d in dup_ids:
        assert sig[d] == sig[-d - 1], f"simhash mismatch for dup {d}"


def test_simhash_is_deterministic(spark):
    a = {r.doc_id: r.simhash for r in _q("simhash").build(spark, SF).collect()}
    b = {r.doc_id: r.simhash for r in _q("simhash").build(spark, SF).collect()}
    assert a == b


def test_minhash_pairs_recall_exact_dups(spark):
    """Every planted exact duplicate must be found as a candidate pair
    (exact dups agree on all bands — recall 1.0 by construction)."""
    pairs = {(r.doc_a, r.doc_b) for r in _q("dedup_minhash_pairs").build(spark, SF).collect()}
    docs = _q("dedup_exact").build(spark, SF)
    n_dup_groups = docs.where(F.col("n_copies") >= 2).count()
    planted = {p for p in pairs if p[0] == -p[1] - 1}
    assert len(planted) == n_dup_groups


def test_jaccard_exact_dups_score_one(spark):
    jac = {(r.doc_a, r.doc_b): r.jaccard for r in _q("dedup_jaccard").build(spark, SF).collect()}
    planted = {p: j for p, j in jac.items() if p[0] == -p[1] - 1}
    assert planted and all(j == 1.0 for j in planted.values())


def test_ann_results_subset_of_bruteforce_order(spark):
    """ANN top-10 scores can't beat exact top-1; every ANN hit's cosine
    must be <= the exact best."""
    exact = _q("knn_bruteforce").build(spark, SF).collect()
    ann = _q("ann_lsh").build(spark, SF).collect()
    assert ann, "ann returned nothing"
    best = exact[0].cos_sim
    for r in ann:
        assert r.cos_sim <= best + 1e-9


def test_dedup_clusters_randomized_vs_union_find(spark, tmp_path):
    """End-to-end randomized differential for the iterative CC query:
    a seeded random corpus over a TINY vocabulary makes the LSH bands
    produce nontrivial candidate CHAINS (A~B, B~C without A~C) that
    the planted-dup testdata never exercises; the real query's labels
    must equal a pure-Python min-rooted union-find over the real
    candidate pairs plus singleton nodes."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (doc_id, " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 14))))
        for doc_id in range(100)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        sf + "/documents.parquet"
    )

    pairs = [
        (r.doc_a, r.doc_b)
        for r in _q("dedup_minhash_pairs").build(spark, sf).collect()
    ]
    labels = {
        r.doc_id: r.cluster_id
        for r in _q("dedup_clusters").build(spark, sf).collect()
    }

    parent = {n: n for n in labels}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-rooted union: the root stays the component's min
            # doc_id, matching the query's cluster_id contract
            parent[max(ra, rb)] = min(ra, rb)

    expect = {n: find(n) for n in labels}
    assert labels == expect
    # the corpus must actually have produced a chain (a cluster of
    # >= 3 docs), or this test degenerates to the planted-pair case
    from collections import Counter

    assert Counter(expect.values()).most_common(1)[0][1] >= 3


def test_cc_propagation_edgeless_graph_converges(spark):
    """r19: the upfront checksum job was removed (prev_sum starts at
    None — one fewer job per invocation), trading it for one
    confirming round on an EDGELESS graph, the only shape that could
    converge in zero rounds.  Pin that trade: every node stays its
    own cluster, the loop takes exactly 2 rounds (1 no-op propagation
    + 1 observe), and nothing raises."""
    from dpu_olap_spark.llm import dedup as dd

    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id bigint")
    edges = spark.createDataFrame([], "src bigint, dst bigint")
    labels, rounds = dd._propagate_min_labels(nodes, edges, 2, max_rounds=16)
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    labels.unpersist()
    assert got == {i: i for i in range(4)}
    assert rounds == 2


def test_cc_propagation_diameter_bound_boundary(spark):
    """Bound-boundary pin for the propagation loop (r11 verdict #7):
    a PATH graph 0-1-2-3-4 (diameter 4) needs exactly 5 rounds — 4 to
    drive every label to 0 plus 1 to OBSERVE the checksum fixpoint —
    so max_rounds=5 converges at the bound and max_rounds=4 must RAISE
    (fail-loud, never partial clusters); max_rounds<1 is rejected
    outright.  An EDGELESS graph has diameter 0 but still needs 2
    rounds (1 no-op propagation + 1 observe): max_rounds=1 raises and
    2 converges.  Drives _propagate_min_labels directly: forcing a
    5-deep near-dup chain through the LSH pipeline would pin the
    minhash vocabulary, not the loop."""
    from dpu_olap_spark.llm import dedup as dd

    nodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "doc_a bigint, doc_b bigint"
    )
    edges = dd._cc_edges(pairs)

    labels, rounds = dd._propagate_min_labels(nodes, edges, 4, max_rounds=5)
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    labels.unpersist()
    assert got == {i: 0 for i in range(5)}
    assert rounds == 5, "path-4 must take diameter+1 rounds exactly"

    with pytest.raises(RuntimeError, match="SPARK_GRAFT_CC_MAX_ROUNDS"):
        dd._propagate_min_labels(nodes, dd._cc_edges(pairs), 4, max_rounds=4)

    with pytest.raises(ValueError, match="max_rounds"):
        dd._propagate_min_labels(nodes, dd._cc_edges(pairs), 4, max_rounds=0)

    no_edges = spark.createDataFrame([], "src bigint, dst bigint")
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_CC_MAX_ROUNDS"):
        dd._propagate_min_labels(nodes, no_edges, 4, max_rounds=1)
    labels, rounds = dd._propagate_min_labels(nodes, no_edges, 4, max_rounds=2)
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    labels.unpersist()
    assert got == {i: i for i in range(5)}
    assert rounds == 2, "an edgeless graph must take exactly 2 rounds"


def test_cc_max_rounds_env_tunable(spark, tmp_path, monkeypatch):
    """The registered query reads SPARK_GRAFT_CC_MAX_ROUNDS: a bound
    too small for even the trivial planted-dup graph (1 round to
    propagate + 1 to observe) raises through the query path, and the
    default bound converges on the same corpus."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (doc_id, " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 14))))
        for doc_id in range(60)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        sf + "/documents.parquet"
    )
    # the bound-1 raise below needs at least one real label change, so
    # the candidate graph must be non-empty — attest the forcing
    assert _q("dedup_minhash_pairs").build(spark, sf).count() > 0
    monkeypatch.setenv("SPARK_GRAFT_CC_MAX_ROUNDS", "1")
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_CC_MAX_ROUNDS"):
        _q("dedup_clusters").build(spark, sf).collect()
    monkeypatch.delenv("SPARK_GRAFT_CC_MAX_ROUNDS")
    got = {
        r.doc_id: r.cluster_id
        for r in _q("dedup_clusters").build(spark, sf).collect()
    }
    # _corpus augments with -id-1 mirror dups, so the node set is a
    # superset of the written doc_ids; every label is min-rooted
    assert set(range(60)) <= set(got)
    assert all(c <= d for d, c in got.items())


def test_mm_decode_shapes_and_determinism(spark):
    out = _q("mm_decode").build(spark, SF)
    rows = out.collect()
    assert {f.name for f in out.schema.fields} == {
        "doc_id",
        "modality",
        "width",
        "height",
        "n_frames",
        "mean_byte",
    }
    assert rows
    imgs = [r for r in rows if r.modality == "image"]
    # image: REAL PNG dims — width from the dim rule, height the
    # actual raster row count (can be any >= 1)
    assert imgs and all(
        r.n_frames == 1 and r.width >= 16 and r.height >= 1 for r in imgs
    )
    auds = [r for r in rows if r.modality == "audio"]
    assert auds and all(r.width == 8000 and r.height == 16 for r in auds)
    vids = [r for r in rows if r.modality == "video"]
    assert vids and all(r.width >= 16 and r.height >= 16 for r in vids)
    again = {r.doc_id: (r.width, r.height, r.n_frames, r.mean_byte) for r in out.collect()}
    first = {r.doc_id: (r.width, r.height, r.n_frames, r.mean_byte) for r in rows}
    assert again == first


def test_real_decode_seam_raises(spark):
    from dpu_olap_spark.llm.multimodal import _real_decode

    # video has no codec integration yet — explicit seam (audio now
    # decodes via the always-on stdlib wave path, not this probe)
    with pytest.raises(NotImplementedError):
        _real_decode(b"xx", "video")


def test_wav_container_roundtrip_byte_exact():
    """The r17 real audio path, gated byte-exactly WITHOUT Spark:
    _wav_payload writes a genuine RIFF/WAVE container (verified by an
    INDEPENDENT header parse — magic bytes, fmt chunk fields, data
    length), and _decode_wav recovers the original bytes' statistics
    exactly."""
    import struct

    from dpu_olap_spark.llm.multimodal import (
        _WAV_RATE,
        _decode_wav,
        _wav_payload,
    )

    for data in (b"hello world", bytes(range(256)), b"\x00", b"a" * 1000):
        wav = _wav_payload(data)
        # independent container check: raw RIFF header fields, not the
        # wave module (which wrote it)
        assert wav[0:4] == b"RIFF" and wav[8:12] == b"WAVE"
        assert wav[12:16] == b"fmt "
        fmt_size, audio_fmt, nch, rate = struct.unpack("<IHHI", wav[16:28])
        assert (fmt_size, audio_fmt, nch, rate) == (16, 1, 1, _WAV_RATE)
        assert wav[36:40] == b"data"
        (data_len,) = struct.unpack("<I", wav[40:44])
        assert data_len == 2 * len(data)  # 16-bit mono PCM
        # exact inverse: every sample maps back to its source byte
        samples = struct.unpack(f"<{len(data)}h", wav[44 : 44 + data_len])
        assert [s // 256 + 128 for s in samples] == list(data)
        rate, bits, n_frames, mean = _decode_wav(wav)
        assert (rate, bits, n_frames) == (_WAV_RATE, 16, len(data))
        assert mean == round(sum(data) / max(1, len(data)), 4)


def test_png_container_roundtrip_byte_exact():
    """The r18 real image path, gated byte-exactly WITHOUT Spark:
    _png_payload writes a genuine PNG container (verified by an
    INDEPENDENT struct-level parse — signature, IHDR fields, chunk
    CRCs via zlib.crc32, not our own reader), and _decode_png
    recovers the original bytes' statistics exactly.  The encoder
    cycles row filters None/Sub/Up, so a passing roundtrip proves the
    unfilterer really runs."""
    import struct
    import zlib

    from dpu_olap_spark.llm.multimodal import (
        _decode_png,
        _png_parse,
        _png_payload,
    )

    for data in (b"hello world", bytes(range(256)) * 5, b"\x00", b"a" * 1000):
        png = _png_payload(data)
        # independent container check: signature + IHDR by direct
        # byte slicing (length 13, first chunk right after signature)
        assert png[:8] == b"\x89PNG\r\n\x1a\n"
        (ihdr_len,) = struct.unpack(">I", png[8:12])
        assert ihdr_len == 13 and png[12:16] == b"IHDR"
        w, h, depth, ctype, comp, filt, inter = struct.unpack(
            ">IIBBBBB", png[16:29]
        )
        assert (depth, ctype, comp, filt, inter) == (8, 0, 0, 0, 0)
        assert w == 16 + data[0] % 64
        assert h == -(-len(data) // w)
        (ihdr_crc,) = struct.unpack(">I", png[29:33])
        assert ihdr_crc == zlib.crc32(png[12:29]) & 0xFFFFFFFF
        assert png.endswith(
            b"IEND" + struct.pack(">I", zlib.crc32(b"IEND") & 0xFFFFFFFF)
        )
        # roundtrip: raster pixels == original bytes (padding trimmed)
        pw, ph, px, orig_len = _png_parse(png)
        assert (pw, ph, orig_len) == (w, h, len(data))
        assert px[:orig_len] == data
        assert all(b == 0 for b in px[orig_len:])  # zero padding only
        dw, dh, frames, mean = _decode_png(png)
        assert (dw, dh, frames) == (w, h, 1)
        assert mean == round(sum(data) / max(1, len(data)), 4)


def test_png_crc_validation_fails_closed():
    """A single flipped bit inside a chunk body must fail the CRC
    check — the decoder is a validating parser, not a length-walker."""
    from dpu_olap_spark.llm.multimodal import _png_parse, _png_payload

    png = bytearray(_png_payload(b"corrupt me please, thanks"))
    # flip one byte inside the IDAT body (well past IHDR)
    idat_at = bytes(png).index(b"IDAT")
    png[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        _png_parse(bytes(png))
    with pytest.raises(ValueError, match="signature"):
        _png_parse(b"GIF89a not a png")


def test_png_unfilter_handles_average_and_paeth():
    """The decoder implements ALL five PNG filter types; our encoder
    only emits 0-2, so Average(3) and Paeth(4) are exercised with a
    hand-built container whose expected raster is computed here from
    the spec's recurrences, independently of the decoder."""
    import struct
    import zlib

    from dpu_olap_spark.llm.multimodal import (
        _PNG_SIG,
        _png_chunk,
        _png_parse,
    )

    w, h = 4, 3
    rows = [bytes([10, 20, 30, 40]), bytes([15, 25, 35, 45]),
            bytes([100, 90, 80, 70])]
    # filter row 0 with None, row 1 with Average, row 2 with Paeth —
    # FORWARD-filter per the spec so the decoder must invert it
    raw = bytearray()
    raw.append(0)
    raw += rows[0]
    raw.append(3)  # Average
    prior = rows[0]
    for x in range(w):
        left = rows[1][x - 1] if x else 0
        raw.append((rows[1][x] - (left + prior[x]) // 2) & 0xFF)
    raw.append(4)  # Paeth
    prior = rows[1]
    for x in range(w):
        a = rows[2][x - 1] if x else 0
        b, c = prior[x], (prior[x - 1] if x else 0)
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
        raw.append((rows[2][x] - pred) & 0xFF)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    pw, ph, px, orig_len = _png_parse(png)
    assert (pw, ph, orig_len) == (w, h, -1)  # no tEXt len chunk
    assert px == b"".join(rows)


def test_nn_resample_reference():
    """Nearest-neighbor kernel against a hand-computed expectation."""
    from dpu_olap_spark.llm.multimodal import _nn_resample

    # 4x2 raster downsampled to 2x1: picks (x*4//2, y*2//1) = cols 0,2 of row 0
    px = bytes([1, 2, 3, 4,
                5, 6, 7, 8])
    assert _nn_resample(px, 4, 2, 2, 1) == bytes([1, 3])
    # identity resample returns the raster unchanged
    assert _nn_resample(px, 4, 2, 4, 2) == px


def test_codec_probe_selects_fake_branch_here(spark, monkeypatch):
    """No codec libs in this container: the probe must say so, and the
    env override must force the fake even where libs exist."""
    from dpu_olap_spark.llm import multimodal as mm

    assert mm._codecs_available() is False, "probe claims codecs exist (none installed)"
    monkeypatch.setenv("SPARK_GRAFT_FORCE_FAKE_CODECS", "1")
    assert mm._codecs_available() is False


def test_codec_probe_true_dispatches_real_branch(monkeypatch):
    """Flip the probe to True (as if pyav appeared): _decode_batches
    must route VIDEO to _real_decode with NO other code change. In
    this container that branch then fails on NotImplemented — proof
    the real path was taken, not the fake.  (Image no longer routes
    through the gate at all: it decodes via the always-on stdlib PNG
    path since r18.)"""
    import pandas as pd

    from dpu_olap_spark.llm import multimodal as mm

    batch = pd.DataFrame(
        {"doc_id": [1], "modality": ["video"], "payload": [b"not-a-real-video"]}
    )
    # default (probe False): fake decode succeeds
    (out,) = list(mm._decode_batches(iter([batch])))
    assert out["width"].iloc[0] >= 16

    monkeypatch.setattr(mm, "_codecs_available", lambda: True)
    with pytest.raises(Exception) as ei:
        list(mm._decode_batches(iter([batch])))
    assert isinstance(ei.value, (ImportError, NotImplementedError)), (
        "real branch should have been dispatched and failed here"
    )


def test_image_decode_bypasses_env_gate(monkeypatch):
    """Image decode is ALWAYS the real stdlib PNG path — even with the
    probe forced True it never consults the video codec gate."""
    import pandas as pd

    from dpu_olap_spark.llm import multimodal as mm

    src = b"some pixel source bytes"
    payload = mm._png_payload(src)
    batch = pd.DataFrame(
        {"doc_id": [1], "modality": ["image"], "payload": [payload]}
    )
    monkeypatch.setattr(mm, "_codecs_available", lambda: True)
    (out,) = list(mm._decode_batches(iter([batch])))
    assert out["width"].iloc[0] == 16 + src[0] % 64
    assert out["n_frames"].iloc[0] == 1
    assert out["mean_byte"].iloc[0] == round(sum(src) / len(src), 4)


def test_mm_resize_aspect_and_determinism(spark):
    rows = _q("mm_resize").build(spark, SF).collect()
    assert rows, "no images resized"
    for r in rows:
        assert max(r.resized_w, r.resized_h) <= 32
        # exact aspect-preserving dims (real container dims since r18)
        scale = 32 / max(r.width, r.height, 1)
        assert r.resized_w == max(1, round(r.width * scale))
        assert r.resized_h == max(1, round(r.height * scale))
    again = {r.doc_id: r.thumb_fp for r in _q("mm_resize").build(spark, SF).collect()}
    assert {r.doc_id: r.thumb_fp for r in rows} == again


def test_mm_resize_differential_vs_pure_python(spark):
    """Full-table differential for the REAL r18 resize: recompute the
    raster (payload bytes zero-padded to the ceil(len/w) x w grid),
    nearest-neighbor resample, and md5 — from the documented
    container contract only, never by calling the module's PNG
    codec."""
    import hashlib

    expect = {}
    for doc_id, (modality, data) in _mm_payloads().items():
        if modality != "image":
            continue
        w = 16 + data[0] % 64 if data else 16
        h = max(1, -(-len(data) // w))
        px = data + b"\x00" * (w * h - len(data))
        scale = 32 / max(w, h, 1)
        rw, rh = max(1, round(w * scale)), max(1, round(h * scale))
        thumb = bytes(
            px[(y * h // rh) * w + (x * w // rw)]
            for y in range(rh)
            for x in range(rw)
        )
        expect[doc_id] = (w, h, rw, rh, hashlib.md5(thumb).hexdigest())
    got = {
        r.doc_id: (r.width, r.height, r.resized_w, r.resized_h, r.thumb_fp)
        for r in _q("mm_resize").build(spark, SF).collect()
    }
    assert got == expect


def _mm_payloads():
    """Independent read of the corpus (pyarrow, no Spark): doc_id ->
    (modality, utf-8 payload bytes), replicating _with_payload's
    doc_id%3 modality rule. All doc_ids are non-negative in the base
    table, so Python % and SQL % agree."""
    import pyarrow.parquet as pq

    t = pq.read_table(SF + "/documents.parquet", columns=["doc_id", "text"])
    mod = {0: "image", 1: "audio", 2: "video"}
    out = {}
    for doc_id, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        assert doc_id >= 0
        out[doc_id] = (mod[doc_id % 3], text.encode("utf-8"))
    return out


def test_mm_decode_differential_vs_pure_python(spark):
    """Byte-exact differential for the rows-only mm_decode: recompute
    every (width, height, n_frames, mean_byte) from the parquet
    payload bytes in pure Python and require full-table equality —
    the mm analog of the simhash numpy majority-vote gate.  Audio
    rows go through the r17 REAL wave path (8 kHz, 16-bit, one frame
    per source byte, exact byte mean); image rows through the r18
    REAL PNG path (width from the dim rule, height the actual raster
    row count ceil(len/width), exact byte mean over the ORIGINAL
    bytes).  Both expectations are the CONTAINER CONTRACTS derived
    independently from the text bytes, never by calling the codecs."""
    expect = {}
    for doc_id, (modality, data) in _mm_payloads().items():
        if modality == "audio":
            expect[doc_id] = (
                modality, 8000, 16, len(data),
                round(float(sum(data)) / max(1, len(data)), 4),
            )
        elif modality == "image":
            w = 16 + data[0] % 64 if data else 16
            h = max(1, -(-len(data) // w))
            expect[doc_id] = (
                modality, w, h, 1,
                round(float(sum(data)) / max(1, len(data)), 4),
            )
        else:  # video: the deterministic fake until pyav appears
            w = 16 + data[0] % 64 if data else 0
            h = 16 + data[1] % 64 if len(data) > 1 else 0
            frames = 1 + len(data) % 32
            mean = round(float(sum(data[:256])) / max(1, min(len(data), 256)), 4)
            expect[doc_id] = (modality, w, h, frames, mean)
    got = {
        r.doc_id: (r.modality, r.width, r.height, r.n_frames, r.mean_byte)
        for r in _q("mm_decode").build(spark, SF).collect()
    }
    assert got == expect


def test_mm_frame_sample_differential_vs_pure_python(spark):
    """Exact multiset differential for the 1:N frame sampler: every
    video doc yields ceil(len/256) frames, frame_fp = md5 of the
    256-byte slice, nothing for image/audio docs."""
    import hashlib

    expect = set()
    for doc_id, (modality, data) in _mm_payloads().items():
        if modality != "video":
            continue
        n_frames = max(1, (len(data) + 255) // 256)
        for i in range(n_frames):
            chunk = data[i * 256 : (i + 1) * 256]
            expect.add((doc_id, i, hashlib.md5(chunk).hexdigest()))
    got = {
        (r.doc_id, r.frame_idx, r.frame_fp)
        for r in _q("mm_frame_sample").build(spark, SF).collect()
    }
    rows = _q("mm_frame_sample").build(spark, SF).count()
    assert rows == len(expect), "duplicate frame rows emitted"
    assert got == expect


def test_simhash_md5_hamming_close_for_near_dups(spark):
    """The md5-based SimHash: identical docs -> identical signature;
    and the signature is a real locality hash — planted exact dups
    have Hamming distance 0 while random doc pairs usually differ."""
    sig = {r.doc_id: r.simhash for r in _q("simhash_md5").build(spark, SF).collect()}
    dup_ids = [d for d in sig if d < 0]
    assert dup_ids and all(sig[d] == sig[-d - 1] for d in dup_ids)
    originals = sorted(d for d in sig if d >= 0)[:40]
    diffs = sum(
        1
        for a, b in zip(originals, originals[1:])
        if bin(sig[a] ^ sig[b]).count("1") > 0
    )
    assert diffs > len(originals) // 2, "signature is degenerate (all docs collide)"


def test_simhash_variants_hamming_consistent(spark):
    """Cross-check an xxhash64-based 64-bit SimHash (built inline —
    since r11 the registered `simhash` uses the md5-derived base hash
    end-to-end, so xxhash64 no longer appears in the registry) against
    the oracle-VERIFIED md5 variant: on planted identical-text pairs
    BOTH report Hamming distance 0, and on pairs the verified variant
    shows clearly apart (>25% of its bits), the xxhash variant never
    calls them identical. Both are majority votes over the same token
    multisets, so these invariants hold regardless of hash function.
    Also pins the 16-bit `simhash_md5` signature to the low 16 bits of
    the 60-bit `simhash` signature — same base hash, same votes, only
    the assembled width differs."""
    import pyspark.sql.functions as F

    from dpu_olap_spark.llm.dedup import _corpus, _simhash_of
    from dpu_olap_spark.llm.text_analysis import tokens

    tok = _corpus(spark, SF).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    xx = {
        r.doc_id: r.simhash
        for r in _simhash_of(
            tok.select("doc_id", F.xxhash64("token").alias("h")), 64
        ).collect()
    }
    md = {r.doc_id: r.simhash for r in _q("simhash_md5").build(spark, SF).collect()}
    full = {r.doc_id: r.simhash for r in _q("simhash").build(spark, SF).collect()}
    assert set(xx) == set(md) == set(full)
    assert all(md[d] == full[d] & 0xFFFF for d in full), (
        "simhash_md5 must be the low 16 bits of simhash"
    )
    dup_ids = [d for d in xx if d < 0]
    assert dup_ids, "augmented corpus missing duplicate docs"
    for d in dup_ids:
        assert bin(xx[d] ^ xx[-d - 1]).count("1") == 0
        assert bin(md[d] ^ md[-d - 1]).count("1") == 0
    originals = sorted(d for d in xx if d >= 0)
    checked = 0
    for a, b in zip(originals, originals[1:]):
        if bin(md[a] ^ md[b]).count("1") > 4:  # >25% of the 16 md5 bits
            assert bin(xx[a] ^ xx[b]).count("1") > 0, (
                f"md5 variant separates ({a},{b}) but xxhash collides"
            )
            checked += 1
    assert checked > 0, "no clearly-apart pairs to cross-check"


def test_chunk_documents_covers_every_token(spark):
    """Chunks per doc = ceil(n/stride); chunk sizes in 1..C; the last
    chunk ends exactly at the document's last token."""
    from dpu_olap_spark.llm.chunking import CHUNK_STRIDE, CHUNK_TOKENS

    rows = _q("chunk_documents").build(spark, SF).collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    docs = {
        r.doc_id: len(r.text.split(" "))
        for r in spark.read.parquet(SF + "/documents.parquet").collect()
    }
    for doc_id, chunks in per_doc.items():
        n = docs[doc_id]
        assert len(chunks) == -(-n // CHUNK_STRIDE)
        chunks.sort(key=lambda r: r.chunk_id)
        for r in chunks:
            assert 1 <= r.n_chunk_tokens <= CHUNK_TOKENS
        last = chunks[-1]
        assert last.chunk_id * CHUNK_STRIDE + last.n_chunk_tokens == n


def test_pack_sequences_conserves_tokens_and_docs(spark):
    """Packing is a partition of each shard: per-shard doc and token
    totals are conserved, bins are contiguous from 0, and every bin
    holds at least one document."""
    rows = _q("pack_sequences").build(spark, SF).collect()
    shards: dict[tuple, list] = {}
    for r in rows:
        shards.setdefault((r.lang, r.source), []).append(r)
    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    truth: dict[tuple, list[int]] = {}
    for d in docs:
        truth.setdefault((d.lang, d.source), []).append(len(d.text.split(" ")))
    assert set(shards) == set(truth)
    for key, bins in shards.items():
        assert sum(b.n_docs for b in bins) == len(truth[key])
        assert sum(b.bin_tokens for b in bins) == sum(truth[key])
        ids = sorted(b.bin_id for b in bins)
        assert ids == list(range(len(ids)))
        assert all(b.n_docs >= 1 for b in bins)


def test_redact_pii_redacts_injected_docs_only(spark):
    """Injected docs (doc_id % 7 == 0) must show >=1 email and >=1
    phone match; the synthetic corpus has no natural matches, so all
    other docs show zero."""
    rows = _q("redact_pii").build(spark, SF).collect()
    assert any(r.doc_id % 7 == 0 for r in rows)
    for r in rows:
        if r.doc_id % 7 == 0:
            assert r.n_emails >= 1 and r.n_phones >= 1, r
        else:
            assert r.n_emails == 0 and r.n_phones == 0, r


def test_bitmap_presence_bits_are_priority_indices(spark):
    """Priority bitmap uses only bit positions 1..5 (priorities are
    '1-URGENT'..'5-LOW') and bit_count matches n_prios."""
    rows = _q("bitmap_presence").build(spark, SF).collect()
    assert rows
    legal_mask = sum(1 << i for i in range(1, 6))
    for r in rows:
        assert r.prio_bitmap != 0
        assert r.prio_bitmap & ~legal_mask == 0, bin(r.prio_bitmap)
        assert bin(r.prio_bitmap).count("1") == r.n_prios


def test_embedding_quantize_code_range_and_extremes(spark):
    """Codes span exactly 0..255 per vector when range > 0: the min
    element maps to 0, the max to 255, and the checksum is bounded by
    255 * n_dims."""
    rows = _q("embedding_quantize").build(spark, SF).collect()
    assert rows
    emb = {
        r.vec_id: r.embedding
        for r in spark.read.parquet(SF + "/embeddings.parquet").collect()
    }
    import hashlib

    for r in rows:
        assert 0 <= r.sum_codes <= 255 * r.n_dims
        if r.vmax > r.vmin:
            # recompute codes locally and check the fingerprint + extremes
            import math

            codes = [
                int(math.floor((float(x) - r.vmin) / (r.vmax - r.vmin) * 255 + 0.5))
                for x in emb[r.vec_id]
            ]
            assert min(codes) == 0 and max(codes) == 255
            fp = hashlib.md5(",".join(str(c) for c in codes).encode()).hexdigest()
            assert fp == r.codes_fp


def test_train_test_split_partitions_corpus(spark):
    """The three splits partition the corpus exactly (doc and char
    totals conserved) and the hash split lands near 90/5/5."""
    rows = {r.split: r for r in _q("train_test_split").build(spark, SF).collect()}
    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    assert set(rows) <= {"train", "val", "test"}
    assert sum(r.n_docs for r in rows.values()) == len(docs)
    assert sum(r.total_chars for r in rows.values()) == sum(d.n_chars for d in docs)
    frac_train = rows["train"].n_docs / len(docs)
    assert 0.80 <= frac_train <= 0.97


def test_train_test_split_is_stable_under_growth(spark):
    """Split membership is a pure function of doc_id: assignments on a
    half-corpus agree with assignments on the full corpus (the
    no-recontamination property as the corpus grows)."""
    from dpu_olap_spark.llm.curation import q_train_test_split  # noqa: F401

    docs = spark.read.parquet(SF + "/documents.parquet")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(bucket < "e6", "train").when(bucket < "f3", "val").otherwise("test")
    )
    full = {r.doc_id: r.s for r in docs.select("doc_id", split.alias("s")).collect()}
    half = {
        r.doc_id: r.s
        for r in docs.where(F.col("doc_id") % 2 == 0)
        .select("doc_id", split.alias("s"))
        .collect()
    }
    assert all(full[k] == v for k, v in half.items())


def test_cross_source_overlap_pairs_ordered_and_positive(spark):
    rows = _q("cross_source_overlap").build(spark, SF).collect()
    for r in rows:
        assert r.source_a < r.source_b
        assert r.n_shared >= 1


def test_bm25_top5_sorted_and_bounded(spark):
    """<=5 terms per doc; within a doc scores are non-increasing; a
    term appearing in every document (idf floor ln(~0.5/df+1)>0) still
    scores positive — BM25's idf+1 keeps scores non-negative."""
    rows = _q("bm25_scores").build(spark, SF).collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.bm25)
        assert r.bm25 >= 0.0
    for scores in per_doc.values():
        assert 1 <= len(scores) <= 5


def test_tfidf_footer_count_equals_table_count(spark):
    """tfidf's n_docs now comes from the parquet footer (driver-side
    metadata read, no Spark job — r18 optimization round); the oracle's
    n is COUNT(*) FROM documents, so the footer count must equal the
    scan count at every fixture SF or the scores silently shift."""
    from dpu_olap_spark.sources.tables import parquet_row_count

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        assert parquet_row_count(path) == (
            spark.read.parquet(path).count()
        ), sf


def test_group_size_hist_conserves_rows_and_keys(spark):
    rows = _q("group_size_hist").build(spark, SF).collect()
    orders = spark.read.parquet(SF + "/orders.parquet")
    n_orders = orders.count()
    n_keys = orders.select("o_custkey").distinct().count()
    assert sum(r.n_keys for r in rows) == n_keys
    assert sum(r.n_rows for r in rows) == n_orders
    for r in rows:
        assert r.n_rows == r.group_size * r.n_keys


def test_pq_search_topk_sorted_deterministic(spark):
    """ADC top-10: exactly 10 non-negative distances, ascending with
    vec_id tiebreak, identical across runs; the probe's own vector
    must rank in the top-10 (its quantized self-distance is bounded by
    quantization error, tiny next to corpus spread)."""
    a = _q("pq_search").build(spark, SF).collect()
    b = _q("pq_search").build(spark, SF).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == 10
    assert all(r.adc_d2_micro >= 0 for r in a)
    keys = [(r.adc_d2_micro, r.vec_id) for r in a]
    assert keys == sorted(keys)
    from dpu_olap_spark.llm.similarity import _PQ_QUERY

    assert any(r.vec_id == _PQ_QUERY for r in a)


def test_bigram_lm_probabilities_normalize(spark):
    """For every conditioning token w1, sum of p(w2|w1) over observed
    w2 is 1 (up to the 1e-6 rounding on each term)."""
    rows = _q("bigram_lm").build(spark, SF).collect()
    per_w1: dict[str, float] = {}
    for r in rows:
        assert 0.0 < r.p <= 1.0
        assert r.n_bigram <= r.n_w1
        per_w1[r.w1] = per_w1.get(r.w1, 0.0) + r.p
    for w1, s in per_w1.items():
        assert abs(s - 1.0) < 1e-4, (w1, s)


def test_perplexity_score_bounds_and_coverage(spark):
    """avg log-prob is <= 0; every doc with >=2 tokens gets a score;
    n_bigrams equals the doc's token count minus 1 (every bigram finds
    its LM row — the model was built from the same corpus)."""
    rows = {r.doc_id: r for r in _q("perplexity_score").build(spark, SF).collect()}
    docs = spark.read.parquet(SF + "/documents.parquet").collect()
    for d in docs:
        n = len(d.text.split(" "))
        if n >= 2:
            assert d.doc_id in rows
            assert rows[d.doc_id].n_bigrams == n - 1
            assert rows[d.doc_id].avg_logp <= 0.0


def test_vocab_coverage_monotone_and_bounded(spark):
    rows = sorted(_q("vocab_coverage").build(spark, SF).collect(), key=lambda r: r.rank)
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    shares = [r.cum_share for r in rows]
    assert all(b >= a for a, b in zip(shares, shares[1:]))
    assert shares[-1] <= 1.0
    ns = [r.n for r in rows]
    assert all(a >= b for a, b in zip(ns, ns[1:]))


def test_observed_clean_metrics_exact(spark, sf_dir):
    """The Observation metrics attached to the observed_clean pipeline
    must be EXACT corpus totals (they aggregate every row flowing
    through the observe point, before the filter) — checked against
    DuckDB. One pass: the metrics ride the filter's own action."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from dpu_olap_spark.sources.tables import load_table
    from tests.oracle import run_oracle

    docs = load_table(spark, sf_dir, "documents")
    obs = Observation()
    kept = (
        docs.observe(
            obs,
            F.count(F.lit(1)).alias("rows_scanned"),
            F.sum(F.col("n_chars").cast("bigint")).alias("chars_scanned"),
        )
        .where((F.col("n_chars") >= 120) & (F.col("lang").isin("en", "de", "fr")))
        .count()
    )
    rows, _ = run_oracle(
        "SELECT COUNT(*), CAST(SUM(n_chars) AS BIGINT) FROM documents", sf_dir
    )
    (n_exact, chars_exact) = rows[0]
    m = obs.get
    assert m["rows_scanned"] == n_exact
    assert m["chars_scanned"] == chars_exact
    assert kept > 0


def test_pq_numpy_encode_matches_exact_sql_reference(spark):
    """The r8 numpy encode (q_pq_encode / the PQ index build) against
    the exact-SQL fold reference _best_code_struct, per vector and
    segment: codes must be IDENTICAL and quant_err_micro must equal
    the reference's floor(d2*1e6+0.5) micro int (the same transform,
    applied to the same left-to-right float64 fold sum). This is the
    differential that licenses the Arrow+numpy fast path's
    bit-exactness claim on real data."""
    import pyspark.sql.functions as F

    from dpu_olap_spark.llm.similarity import (
        _PQ_CODES,
        _PQ_SEGMENTS,
        _SEG_DIMS,
        _best_code_struct,
    )
    from dpu_olap_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    books = sorted(
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < _PQ_CODES)
        .select("vec_id", "embedding")
        .collect()
    )
    ref_rows = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seg"),
                        _best_code_struct(books, s).alias("best"),
                    )
                    for s in range(_PQ_SEGMENTS)
                ]
            )
        ).alias("e"),
    ).select(
        "vec_id",
        F.col("e.seg").alias("seg"),
        F.col("e.best.code").cast("int").alias("code"),
        F.col("e.best.d2u").alias("quant_err_micro"),
    ).collect()
    ref = {(r.vec_id, r.seg): (r.code, r.quant_err_micro) for r in ref_rows}

    got_rows = _q("pq_encode").build(spark, SF).collect()
    got = {(r.vec_id, r.seg): (r.code, r.quant_err_micro) for r in got_rows}
    assert set(got) == set(ref)
    bad = {k: (got[k], ref[k]) for k in ref if got[k] != ref[k]}
    assert not bad, f"{len(bad)} mismatches, e.g. {list(bad.items())[:3]}"

def test_pq_micro_snap_round_vs_floor_boundary():
    """r8 ADVICE boundary test for the micro-int snap seam: the PQ
    kernel/_adc_lut use floor(y + 0.5) on y = d2*1e6 while DuckDB's
    earlier oracle form used round(y).  For non-negative y these are
    PROVABLY equal whenever k+0.5 and k+1 are exactly representable
    (always, for k < 2**51): round-to-nearest can never carry a true
    value < k+0.5 past the representable k+0.5, so floor(fl(y+0.5))
    <= k exactly when round(y) == k.  This test pins that argument
    empirically on the adversarial ulp-neighborhood of every .5
    micro-unit boundary in the PQ operating range, via parameter
    binding (NOT SQL literals — DuckDB parses decimal literals as
    DECIMAL first, which silently rounds the double; that trap is the
    reason this test binds values)."""
    import math

    import duckdb

    con = duckdb.connect()
    checked = exact_half = 0
    for k in list(range(200)) + [997, 4999, 50_000, 1_000_000]:
        base = (k + 0.5) / 1e6
        for delta in range(-3, 4):
            x = base
            for _ in range(abs(delta)):
                x = math.nextafter(x, -math.inf if delta < 0 else math.inf)
            y = x * 1e6
            if y == k + 0.5:
                exact_half += 1  # the half-away-vs-banker's case
            r, f = con.execute(
                "SELECT CAST(round(? * 1000000) AS BIGINT),"
                "       CAST(floor(? * 1000000 + 0.5) AS BIGINT)",
                [x, x],
            ).fetchone()
            assert f == math.floor(y + 0.5), (x.hex(), f)
            assert r == f, f"round/floor diverge at {x.hex()}: {r} vs {f}"
            checked += 1
    assert checked >= 1400
    # the exact .5 landings are the cases where a banker's-rounding
    # round() WOULD diverge on odd k — assert the sweep actually hit
    # some, so the half-away agreement above is load-bearing
    assert exact_half >= 100


def test_pq_oracle_fold_is_pinned_to_kernel_float_path():
    """The r9 pinned PQ oracle fold (list_reduce over the ordered
    squared-diff list + floor(x*1e6+0.5)) must reproduce the kernel's
    float path bit-for-bit: numpy per-dimension accumulation
    (_np_nearest), the pure-Python loop (_adc_lut), and DuckDB's
    list_reduce must agree EXACTLY on seeded random float32-widened
    segments, including segments engineered to land near .5 micro
    boundaries.  An unordered GROUP-BY SUM carries no such guarantee —
    this is the contract that closes the ADVICE flake risk."""
    import math
    import random

    import duckdb
    import numpy as np

    rng = random.Random(42)
    con = duckdb.connect()
    ndims = 8
    cases = []
    for _ in range(300):
        a = [np.float32(rng.uniform(-1, 1)) for _ in range(ndims)]
        b = [np.float32(rng.uniform(-1, 1)) for _ in range(ndims)]
        cases.append((a, b))
    for k in (0, 1, 2, 7, 100):
        # near-boundary: 8 equal diffs whose squares sum to ~(k+.5)/1e6
        d = math.sqrt((k + 0.5) / 8e6)
        a = [np.float32(d)] * ndims
        b = [np.float32(0.0)] * ndims
        cases.append((a, b))
    for a, b in cases:
        af = [float(x) for x in a]
        bf = [float(x) for x in b]
        # pure-Python left-to-right (the _adc_lut loop)
        d2 = 0.0
        for x, yv in zip(af, bf):
            d2 = d2 + (x - yv) * (x - yv)
        py = math.floor(d2 * 1e6 + 0.5)
        # numpy accumulation as _np_nearest does it (acc += t*t per dim)
        acc = np.zeros(1, dtype=np.float64)
        A = np.array(af, dtype=np.float64)
        B = np.array(bf, dtype=np.float64)
        for i in range(ndims):
            t = A[i] - B[i]
            acc += t * t
        np_snap = int(np.floor(acc[0] * 1e6 + 0.5))
        # DuckDB pinned oracle fold, lists bound as parameters
        (db,) = con.execute(
            """
            SELECT CAST(floor(list_reduce(
              list_transform(range(1, 9),
                i -> (sv[i] - cv[i]) * (sv[i] - cv[i])),
              (acc, x) -> acc + x) * 1000000 + 0.5) AS BIGINT)
            FROM (SELECT ?::DOUBLE[] AS sv, ?::DOUBLE[] AS cv)
            """,
            [af, bf],
        ).fetchone()
        assert py == np_snap == db, (af, bf, py, np_snap, db)


def test_cc_propagation_randomized_graphs_vs_union_find(spark):
    """Randomized property test for _propagate_min_labels driven
    DIRECTLY with arbitrary graph shapes (the LSH end-to-end test can
    only reach graphs minhash banding produces): seeded random sparse
    graphs + a 14-edge path (diameter one short of the default 16
    bound — the deep-chain regime the boundary test covers only at
    toy size).  Labels must equal the min doc_id of each union-find
    component; rounds must never exceed diameter+1."""
    import random

    from dpu_olap_spark.llm import dedup as dd

    def union_find(n_nodes, edge_list):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {i: find(i) for i in range(n_nodes)}

    cases = []
    for seed in (3, 17, 91):
        rng = random.Random(seed)
        n = rng.randint(20, 40)
        m = rng.randint(5, n)
        edges = [
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)
        ]
        cases.append((n, edges))
    cases.append((15, [(i, i + 1) for i in range(14)]))  # deep path

    for n, edge_list in cases:
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
        pairs = spark.createDataFrame(
            edge_list or [(0, 0)], "doc_a bigint, doc_b bigint"
        )
        labels, rounds = dd._propagate_min_labels(
            nodes, dd._cc_edges(pairs), 4, max_rounds=n + 1
        )
        got = {r.doc_id: r.cluster_id for r in labels.collect()}
        labels.unpersist()
        assert got == union_find(n, edge_list), (n, edge_list)
        assert rounds <= n + 1
