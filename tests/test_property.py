"""Property-based checks (hypothesis): Spark operators vs pure-Python
reference semantics on random inputs. Complements the example-based
tests with adversarial coverage of nulls, empty strings, and threshold
edges."""

from __future__ import annotations

import math
import os
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from memory_engine_spark.operators import dedup
from memory_engine_spark.operators.filters import FilterCondition, apply_filters

# SPARK_GRAFT_HYP_EXAMPLES: soak knob (r13 precedent — a 12-pass
# fresh-seed soak found the FLAC single-sample-final-block bug the
# default budget never hit). CI default stays 12; a soak run sets
# e.g. 60 and repeats with fresh random seeds.
SETTINGS = dict(max_examples=int(os.environ.get(
                    "SPARK_GRAFT_HYP_EXAMPLES", "12")),
                deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture,
                                       HealthCheck.too_slow])

_scalar = st.one_of(st.none(), st.integers(-50, 50).map(float),
                    st.sampled_from(["alpha", "Beta", "gamma ray", "", "x1"]))
_rows = st.lists(st.tuples(st.integers(0, 10 ** 6), _scalar, _scalar),
                 min_size=0, max_size=12, unique_by=lambda r: r[0])
_op = st.sampled_from(["eq", "ne", "gt", "gte", "lt", "lte", "contains",
                       "starts_with", "exists", "not_exists"])


def _py_eval(op, cell, val):
    """Reference row-at-a-time semantics (filter_processor.py): nulls
    are excluded for comparison ops."""
    if op == "exists":
        return cell is not None
    if op == "not_exists":
        return cell is None
    if cell is None:
        return False
    try:
        if op == "eq":
            return cell == val
        if op == "ne":
            return cell != val
        if op == "gt":
            return cell > val
        if op == "gte":
            return cell >= val
        if op == "lt":
            return cell < val
        if op == "lte":
            return cell <= val
        if op == "contains":
            return isinstance(cell, str) and str(val) in cell
        if op == "starts_with":
            return isinstance(cell, str) and cell.startswith(str(val))
    except TypeError:
        return False
    return False


@settings(**SETTINGS)
@given(rows=_rows, op=_op, use_num=st.booleans(),
       val=st.one_of(st.integers(-50, 50).map(float),
                     st.sampled_from(["alpha", "a", "x"])))
def test_filter_compiler_matches_python(spark, rows, op, use_num, val):
    col = "num" if use_num else "txt"
    # comparable types only: numeric col ↔ numeric val, string ↔ string
    if use_num and isinstance(val, str):
        val = 1.0
    if not use_num and not isinstance(val, str):
        val = "a"
    if op in ("contains", "starts_with") and use_num:
        return  # string ops on string column only
    df = spark.createDataFrame(
        [(i, n if isinstance(n, float) else None,
          s if isinstance(s, str) else None) for i, n, s in rows],
        "id long, num double, txt string")
    got = {r["id"] for r in
           apply_filters(df, [FilterCondition(col, op, val)]).collect()}
    expect = {i for i, n, s in rows
              if _py_eval(op, (n if isinstance(n, float) else None) if use_num
                          else (s if isinstance(s, str) else None), val)}
    assert got == expect


_doc = st.lists(st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
                min_size=0, max_size=8).map(" ".join)


def _py_shingles(txt, n=2):
    toks = [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t]
    if not toks:
        return set()
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


@settings(**SETTINGS)
@given(docs=st.lists(_doc, min_size=2, max_size=6),
       threshold=st.sampled_from([0.2, 0.5, 0.8]))
def test_jaccard_pairs_match_bruteforce(spark, docs, threshold):
    rows = [(i, d) for i, d in enumerate(docs) if _py_shingles(d)]
    if len(rows) < 2:
        return
    df = spark.createDataFrame(rows, "doc_id int, body string")
    got = {(r["a"], r["b"]): r["jaccard"] for r in
           dedup.ngram_jaccard_pairs(df, "body", "doc_id", n=2,
                                     threshold=threshold).collect()}
    expect = {}
    for i, (ia, da) in enumerate(rows):
        for ib, db in rows[i + 1:]:
            sa, sb = _py_shingles(da), _py_shingles(db)
            j = len(sa & sb) / len(sa | sb)
            if j >= threshold:
                expect[(ia, ib)] = j
    assert set(got) == set(expect)
    for k, v in got.items():
        assert math.isclose(v, expect[k], abs_tol=1e-6)


@settings(**SETTINGS)
@given(rows=st.lists(st.tuples(st.integers(0, 10 ** 6),
                               st.one_of(st.none(), st.sampled_from("abcxyz")),
                               st.one_of(st.none(), st.integers(-9, 9))),
                     min_size=0, max_size=10, unique_by=lambda r: r[0]),
       asc=st.booleans(), by_num=st.booleans())
def test_sort_null_sentinels_match_reference(spark, rows, asc, by_num):
    from memory_engine_spark.operators.sorting import SortCriteria, apply_sort

    df = spark.createDataFrame(rows, "id long, s string, n long")
    col = "n" if by_num else "s"
    got = [r["id"] for r in apply_sort(df, [SortCriteria(col, asc)]).collect()]
    # reference: nulls first ascending, last descending — one key works
    # for both: (not-null, value), reversed for descending
    def key(r):
        v = r[2] if by_num else r[1]
        return (v is not None, v if v is not None else ("" if not by_num else 0))
    expect = sorted(rows, key=key, reverse=not asc)
    # compare grouped by sort key (ties unordered)
    def grouped(ids, rs):
        out, seen = [], {}
        for r in rs:
            seen[r[0]] = r[2] if by_num else r[1]
        cur, curv = [], object()
        for i in ids:
            v = seen[i]
            if v != curv and cur:
                out.append(sorted(cur)); cur = []
            cur.append(i); curv = v
        if cur:
            out.append(sorted(cur))
        return out
    assert grouped(got, rows) == grouped([r[0] for r in expect], rows)


@settings(**SETTINGS)
@given(rows=st.lists(st.tuples(st.one_of(st.none(), st.sampled_from("ab")),
                               st.one_of(st.none(), st.sampled_from("xy"))),
                     min_size=0, max_size=12))
def test_group_count_matches_counter(spark, rows):
    from collections import Counter

    from memory_engine_spark.operators.aggregates import group_count

    if not rows:
        return
    df = spark.createDataFrame(rows, "g1 string, g2 string")
    got = {r["group_key"]: r["group_count"] for r in
           group_count(df, ["g1", "g2"]).collect()}
    expect = Counter(f"{a if a is not None else 'null'}|"
                     f"{b if b is not None else 'null'}" for a, b in rows)
    assert got == dict(expect)


@settings(**SETTINGS)
@given(docs=st.lists(_doc.filter(lambda d: len(d.split()) >= 2),
                     min_size=2, max_size=6))
def test_minhash_no_false_positives(spark, docs):
    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id int, body string")
    got = {(r["a"], r["b"]): r["jaccard"] for r in
           dedup.minhash_neardup(df, "body", "doc_id", threshold=0.5,
                                 num_hashes=16, bands=8, n=2).collect()}
    for (a, b), j in got.items():
        sa, sb = _py_shingles(docs[a]), _py_shingles(docs[b])
        exact = len(sa & sb) / len(sa | sb)
        assert exact >= 0.5  # verification step guarantees no FPs
        assert math.isclose(j, exact, abs_tol=1e-6)


# -- round-3 dedup invariants -------------------------------------------------

_word = st.sampled_from(["nav", "foo", "bar", "baz", "qux", "spark", "x"])
_line = st.lists(_word, min_size=1, max_size=4).map(" ".join)
_docline = st.lists(_line, min_size=1, max_size=5).map("\n".join)


@settings(**SETTINGS)
@given(texts=st.lists(_docline, min_size=2, max_size=5))
def test_dedup_lines_is_idempotent(spark, texts):
    # removing every corpus-wide duplicated line cannot create new
    # cross-doc duplicates among the survivors: a kept line had < 2
    # distinct docs, which only shrinks. A second pass is a no-op.
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id int, text string")
    once = dedup.dedup_lines(df, "text", "doc_id").select("doc_id", "text")
    twice = dedup.dedup_lines(once, "text", "doc_id")
    assert twice.filter("n_dropped > 0").count() == 0


@settings(**SETTINGS)
@given(texts=st.lists(
    st.lists(_word, min_size=4, max_size=10).map(" ".join),
    min_size=2, max_size=5))
def test_substring_dedup_removes_every_hot_window(spark, texts):
    # internal consistency: for every window hash that occurred in ≥2
    # docs of the INPUT, no output doc still contains that exact
    # window (all its tokens were covered and removed together only if
    # adjacent survivors don't re-form it — so check against the
    # input's hot set specifically, not idempotence, which the paper's
    # formulation does not guarantee either).
    W = 3
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id int, text string")
    out = dedup.substring_dedup(df, "text", "doc_id", window=W)

    def windows(text):
        toks = text.split()
        return {" ".join(toks[i:i + W]) for i in range(len(toks) - W + 1)}

    in_wins = {}
    for i, t in enumerate(texts):
        for w in windows(" ".join(t.lower().split())):
            in_wins.setdefault(w, set()).add(i)
    hot = {w for w, docs in in_wins.items() if len(docs) >= 2}
    for r in out.collect():
        # a surviving occurrence of a hot window may only arise from
        # tokens NEWLY adjacent after interior removal; the original
        # contiguous occurrence itself must be gone, which we verify
        # through the removal count: every doc containing a hot window
        # lost at least W tokens
        orig_wins = windows(" ".join(texts[r["doc_id"]].lower().split()))
        if orig_wins & hot:
            assert r["n_removed"] >= W


@settings(**SETTINGS)
@given(chunks=st.lists(
    st.one_of(
        st.binary(min_size=0, max_size=200),
        st.builds(lambda b, n: b * n,
                  st.binary(min_size=1, max_size=8),
                  st.integers(1, 400))),
    min_size=0, max_size=12))
def test_snappy_decompress_fuzz_roundtrip(chunks):
    """Pure-Python snappy vs pyarrow's C++ compressor on arbitrary
    concatenations of random and highly-repetitive chunks — the
    repetitive parts force overlapping copies with varied offsets."""
    import pyarrow as pa

    from memory_engine_spark.sources.formats import _snappy_decompress

    raw = b"".join(chunks)
    comp = pa.compress(raw, codec="snappy", asbytes=True)
    assert _snappy_decompress(comp) == raw


@settings(**SETTINGS)
@given(vals=st.lists(st.integers(-2 ** 40, 2 ** 40),
                     min_size=0, max_size=3000),
       null_mod=st.integers(2, 17))
def test_parquet_int64_fuzz_roundtrip(vals, null_mod):
    """Hand-rolled parquet column read vs pyarrow's writer on random
    data with random null spacing (pyarrow emits snappy + RLE_DICT
    or PLAIN depending on cardinality — both paths land here)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from memory_engine_spark.sources.formats import (
        parquet_read_int64_column)

    data = [None if i % null_mod == 0 else v
            for i, v in enumerate(vals)]
    table = pa.table({"c": pa.array(data, type=pa.int64())})
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    got = parquet_read_int64_column(buf.getvalue(), "c")
    assert got == data


@settings(**SETTINGS)
@given(vals=st.lists(st.text(max_size=40), min_size=0, max_size=1500),
       null_mod=st.integers(2, 17),
       dpv=st.sampled_from(["1.0", "2.0"]))
def test_parquet_string_fuzz_roundtrip(vals, null_mod, dpv):
    """BYTE_ARRAY twin of the INT64 fuzz (r14, q244's machinery):
    hand-rolled string column read vs pyarrow's writer on random
    unicode with random null spacing, both data-page versions —
    RLE_DICT with a PLAIN-framed dictionary page, PLAIN fallback on
    high cardinality, empty strings, multi-byte code points."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from memory_engine_spark.sources.formats import (
        parquet_read_string_column)

    data = [None if i % null_mod == 0 else v
            for i, v in enumerate(vals)]
    table = pa.table({"c": pa.array(data, type=pa.string())})
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy",
                   data_page_version=dpv)
    got = parquet_read_string_column(buf.getvalue(), "c")
    assert got == data


@settings(**SETTINGS)
@given(ints=st.lists(st.integers(-2 ** 63, 2 ** 63 - 1),
                     min_size=1, max_size=1200),
       strs=st.lists(st.text(max_size=30), min_size=1, max_size=1200),
       null_mod=st.integers(2, 17),
       dpv=st.sampled_from(["1.0", "2.0"]),
       str_enc=st.sampled_from(["DELTA_LENGTH_BYTE_ARRAY",
                                "DELTA_BYTE_ARRAY"]))
def test_parquet_delta_fuzz_roundtrip(ints, strs, null_mod, dpv,
                                      str_enc):
    """The delta family (q245's machinery) vs pyarrow's writer as
    the independent implementation: DELTA_BINARY_PACKED int64 over
    the FULL two's-complement range (wraparound deltas),
    DELTA_LENGTH/DELTA_BYTE_ARRAY strings (shared-prefix chains),
    random nulls, both data-page versions."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from memory_engine_spark.sources import formats as fm

    di = [None if i % null_mod == 0 else v for i, v in enumerate(ints)]
    d3 = [None if i % null_mod == 0
          else ((v + 2 ** 31) % 2 ** 32) - 2 ** 31
          for i, v in enumerate(ints)]
    ds = [None if i % null_mod == 1 else v for i, v in enumerate(strs)]
    ti = pa.table({"k": pa.array(di, type=pa.int64()),
                   "i3": pa.array(d3, type=pa.int32())})
    ts = pa.table({"s": pa.array(ds, type=pa.string())})
    bi, bs = io.BytesIO(), io.BytesIO()
    pq.write_table(ti, bi, compression="snappy", use_dictionary=False,
                   data_page_version=dpv,
                   column_encoding={"k": "DELTA_BINARY_PACKED",
                                    "i3": "DELTA_BINARY_PACKED"})
    pq.write_table(ts, bs, compression="snappy", use_dictionary=False,
                   data_page_version=dpv,
                   column_encoding={"s": str_enc})
    assert fm.parquet_read_int64_column(bi.getvalue(), "k") == di
    assert fm.parquet_read_int32_column(bi.getvalue(), "i3") == d3
    assert fm.parquet_read_string_column(bs.getvalue(), "s") == ds


@settings(**SETTINGS)
@given(ints=st.lists(st.integers(-2 ** 63, 2 ** 63 - 1),
                     min_size=0, max_size=1500),
       strs=st.lists(st.text(max_size=40), min_size=0, max_size=1200),
       null_mod=st.integers(2, 17),
       dpv=st.sampled_from(["1.0", "2.0"]),
       codec=st.sampled_from(["gzip", "lz4"]),
       use_dict=st.booleans(),
       multi_rg=st.booleans())
def test_parquet_codec_fuzz_roundtrip(ints, strs, null_mod, dpv,
                                      codec, use_dict, multi_rg):
    """GZIP and LZ4_RAW page codecs (q246's machinery, r15 named
    gap) vs pyarrow's writer as the independent implementation:
    every page kind that crosses the inflater — PLAIN-framed
    dictionary pages, RLE_DICT and PLAIN data pages, v1 pages
    (levels inside the compressed body) AND v2 pages (levels outside
    it, is_compressed flag) — over full-range int64, int32, and
    unicode strings with random nulls. A framing, size-claim, or
    copy-replay bug in either codec path breaks value equality."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from memory_engine_spark.sources import formats as fm

    di = [None if i % null_mod == 0 else v for i, v in enumerate(ints)]
    d3 = [None if i % null_mod == 0
          else ((v + 2 ** 31) % 2 ** 32) - 2 ** 31
          for i, v in enumerate(ints)]
    ds = [None if i % null_mod == 1 else v for i, v in enumerate(strs)]
    ti = pa.table({"k": pa.array(di, type=pa.int64()),
                   "i3": pa.array(d3, type=pa.int32())})
    ts = pa.table({"s": pa.array(ds, type=pa.string())})
    bi, bs = io.BytesIO(), io.BytesIO()
    # multi_rg splits into ~3 row groups with multi-page chunks —
    # the cross-page/cross-group reassembly axis
    kw = dict(compression=codec, data_page_version=dpv,
              use_dictionary=use_dict)
    if multi_rg:
        kw.update(row_group_size=max(1, len(di) // 3 or 1),
                  data_page_size=64)
    pq.write_table(ti, bi, **kw)
    pq.write_table(ts, bs, **kw)
    assert fm.parquet_read_int64_column(bi.getvalue(), "k") == di
    assert fm.parquet_read_int32_column(bi.getvalue(), "i3") == d3
    assert fm.parquet_read_string_column(bs.getvalue(), "s") == ds


@settings(**SETTINGS)
@given(blocks=st.lists(
    st.tuples(
        st.integers(1, 126),                       # track vint (1 byte)
        st.integers(-30000, 30000),                # relative ts
        st.booleans(),                             # keyframe
        st.sampled_from(["none", "xiph", "fixed", "ebml"]),
        st.lists(st.binary(min_size=0, max_size=600),
                 min_size=1, max_size=5)),
    min_size=1, max_size=4))
def test_mkv_block_fuzz_roundtrip(blocks):
    """synth_mkv → (driverless) EBML walk round trip on random frames
    under every lacing mode: the reassembled frame bytes, track ids,
    timestamps and flags must come back exactly. Fixed lacing gets
    equal-size frames (its contract); no-lacing gets one frame."""
    import zlib

    from memory_engine_spark.operators.multimodal import (_ebml_children,
                                                          _ebml_find,
                                                          synth_mkv)

    norm = []
    for (track, rel, key, lacing, frames) in blocks:
        if lacing == "none":
            frames = frames[:1]
        elif lacing == "fixed":
            ln = len(frames[0])
            frames = [(f + b"\x00" * ln)[:ln] for f in frames]
        norm.append((track, rel, key, lacing, frames))
    payload = synth_mkv("matroska", 1_000_000, (64, 64),
                        [(1000, norm)])
    seg = _ebml_find(payload, 0, len(payload), [0x18538067])
    clusters = [(s, e) for eid, s, e in _ebml_children(payload, *seg)
                if eid == 0x1F43B675]
    assert len(clusters) == 1
    kids = list(_ebml_children(payload, *clusters[0]))
    assert kids[0][0] == 0xBF                      # CRC leads
    crc = int.from_bytes(payload[kids[0][1]:kids[0][2]], "little")
    assert zlib.crc32(payload[kids[0][2]:clusters[0][1]]) == crc
    # decode every SimpleBlock through the same parser mkv_blocks uses
    from memory_engine_spark.operators import multimodal as mm
    got = []
    for keid, ks, ke in kids[1:]:
        if keid != 0xA3:
            continue
        b = payload
        track, q = mm._ebml_vint(b, ks, True)
        rel = int.from_bytes(b[q:q + 2], "big", signed=True)
        flags = b[q + 2]
        q += 3
        lace = (flags >> 1) & 0x03
        frames = []
        if lace == 0x00:
            frames = [b[q:ke]]
        elif lace == 0x01:
            nf = b[q] + 1
            q += 1
            sizes = []
            for _ in range(nf - 1):
                n = 0
                while b[q] == 255:
                    n += 255
                    q += 1
                n += b[q]
                q += 1
                sizes.append(n)
            for n in sizes:
                frames.append(b[q:q + n]); q += n
            frames.append(b[q:ke])
        elif lace == 0x02:
            nf = b[q] + 1
            q += 1
            step = (ke - q) // nf
            frames = [b[q + i * step:q + (i + 1) * step]
                      for i in range(nf)]
        else:
            nf = b[q] + 1
            q += 1
            sizes = []
            if nf >= 2:
                first, q = mm._ebml_vint(b, q, True)
                sizes = [first]
                for _ in range(nf - 2):
                    ln8 = 8 - b[q].bit_length() + 1
                    raw, q2 = mm._ebml_vint(b, q, True)
                    sizes.append(sizes[-1] + raw
                                 - ((1 << (7 * ln8 - 1)) - 1))
                    q = q2
            for n in sizes:
                frames.append(b[q:q + n]); q += n
            frames.append(b[q:ke])
        got.append((track, rel, bool(flags & 0x80),
                    ["none", "xiph", "fixed", "ebml"][lace], frames))
    assert got == norm


@settings(**SETTINGS)
@given(chunks=st.lists(
    st.one_of(
        st.binary(min_size=0, max_size=300),
        st.builds(lambda b, n: b * n,
                  st.binary(min_size=1, max_size=6),
                  st.integers(1, 500))),
    min_size=0, max_size=10),
    stored_mask=st.integers(0, 1023))
def test_lz4_frame_fuzz_roundtrip(chunks, stored_mask):
    """synth_lz4_frame → lz4_frame_walk round trip on random block
    lists mixing compressible, incompressible and empty blocks, with
    a random stored/compressed choice per block; plus the truncation
    loud-fail on every strict prefix boundary near the tail."""
    import pytest

    from memory_engine_spark.sources.formats import (lz4_frame_walk,
                                                     synth_lz4_frame)

    blocks = [(c, bool((stored_mask >> i) & 1))
              for i, c in enumerate(chunks) if c != b""]
    frame = synth_lz4_frame(blocks)
    got, ok = lz4_frame_walk(frame)
    assert ok and [raw for _, _, raw in got] == [c for c, _ in blocks]
    for cut in (1, 2, 3, 5, 7):
        if len(frame) - cut > 7:
            with pytest.raises(ValueError):
                lz4_frame_walk(frame[:-cut])


@settings(**SETTINGS)
@given(pkts=st.lists(
    st.one_of(st.binary(min_size=1, max_size=700),
              st.binary(min_size=1, max_size=2).map(lambda b: b * 255),
              st.just(b"Z" * 510)),            # exact 255-multiples
    min_size=1, max_size=5),
    cap=st.sampled_from([255, 510]))
def test_ogg_fuzz_roundtrip(pkts, cap):
    """synth_ogg → driverless page walk: packets reassemble exactly
    across continuation pages for random sizes including exact
    255-multiples (the required trailing-0 lacing case), every page
    CRC verifies, BOS/EOS land on the first/last page."""
    from memory_engine_spark.operators.multimodal import ogg_crc, synth_ogg

    grans = [i * 100 for i in range(len(pkts))]
    b = synth_ogg(pkts, serial=9, granules=grans, page_payload_cap=cap)
    i, buf, out = 0, bytearray(), []
    while i < len(b):
        assert b[i:i + 4] == b"OggS"
        nseg = b[i + 26]
        lacing = b[i + 27:i + 27 + nseg]
        plen = sum(lacing)
        page = bytearray(b[i:i + 27 + nseg + plen])
        stored = int.from_bytes(page[22:26], "little")
        page[22:26] = b"\x00\x00\x00\x00"
        assert ogg_crc(bytes(page)) == stored
        pos = i + 27 + nseg
        for lace in lacing:
            buf += b[pos:pos + lace]
            pos += lace
            if lace < 255:
                out.append(bytes(buf))
                buf = bytearray()
        i = pos
    assert not buf and out == pkts


@settings(**SETTINGS)
@given(n=st.one_of(st.integers(0, 2 ** 35),
                   st.sampled_from([126, 127, 128, 16382, 16383, 16384,
                                    2 ** 21 - 2, 2 ** 21 - 1, 2 ** 21])))
def test_ebml_size_vint_roundtrip(n):
    """EBML size-vint encode/decode round trip across the length
    boundaries (127/128, 16383/16384, 2^21−1/2^21 — the all-ones
    values are reserved for unknown-size, so minimal encoding must
    grow a byte exactly there)."""
    from memory_engine_spark.operators.multimodal import (_ebml_encode_size,
                                                          _ebml_vint)

    enc = _ebml_encode_size(n)
    v, off = _ebml_vint(enc, 0, True)
    assert (v, off) == (n, len(enc))
    ln = len(enc)
    assert n >= (1 << (7 * (ln - 1))) - 1 or ln == 1  # minimal length


@settings(**SETTINGS)
@given(entries=st.lists(
    st.tuples(st.text(alphabet="abPKz_", min_size=1, max_size=8),
              st.binary(max_size=50)),
    min_size=1, max_size=5),
    decoys=st.lists(st.sampled_from(
        [b"PK\x05\x06", b"PK\x03\x04", b"PK\x01\x02"]),
        min_size=1, max_size=3))
def test_zip_eocd_decoy_fuzz_roundtrip(entries, decoys):
    """Round-10 fuzz expansion (r9 verdict item 8): ZIP member bodies
    SEEDED with EOCD / local-header / central-entry signatures at
    arbitrary offsets must round-trip — parse_zip locates the EOCD by
    a backwards tail scan and walks the central directory by recorded
    offsets, so decoy signatures inside member data (which break any
    forward signature-scanner) are inert. Stored AND Deflate members
    (synth compresses every 2nd); truncation loud-fails whenever the
    file's only EOCD signature is the real one."""
    from memory_engine_spark.sources.formats import parse_zip, synth_zip

    entries = [(f"{i}_{name}", b"".join(decoys) + body + decoys[0])
               for i, (name, body) in enumerate(entries)]
    blob = synth_zip(entries)
    got = parse_zip(blob)
    assert [(g["name"], g["body"]) for g in got] == entries
    assert [g["method"] for g in got] == \
        [8 if i % 2 == 1 else 0 for i in range(len(entries))]

    # clip the ENTIRE 22-byte EOCD record: the backwards scan now
    # lands on a decoy signature inside a member body (or nothing)
    # and the walk must fail loudly — never fabricate entries. The
    # one survivable outcome is a decoy whose trailing bytes happen
    # to decode as "0 entries": an empty archive, still no
    # fabrication.
    try:
        got_trunc = parse_zip(blob[:-22])
    except (ValueError, NotImplementedError, IndexError,
            OverflowError, UnicodeDecodeError):
        pass
    else:
        assert got_trunc == [], "fabricated entries from decoy EOCD"


@settings(**SETTINGS)
@given(v=st.one_of(
    st.integers(-2 ** 63, 2 ** 63 - 1),
    st.sampled_from([0, -1, 1, 63, -63, 64, -64, 65, -65,
                     2 ** 31 - 1, -2 ** 31, 2 ** 63 - 1, -2 ** 63])))
def test_avro_zigzag_varint_boundaries(v):
    """Avro zigzag varint encode/decode round trip across the 7-bit
    group boundaries (±63/64: 1→2 bytes) and the 64-bit extremes
    (−2^63 / 2^63−1 must take exactly 10 bytes — the encoding is
    unsigned-cast, not sign-extended forever)."""
    from memory_engine_spark.sources.formats import (_avro_zigzag_dec,
                                                     _avro_zigzag_enc)

    enc = _avro_zigzag_enc(v)
    dec, off = _avro_zigzag_dec(enc, 0)
    assert (dec, off) == (v, len(enc))
    assert 1 <= len(enc) <= 10
    assert not enc[-1] & 0x80
    assert all(byte & 0x80 for byte in enc[:-1])
    # minimal: u = zigzag(v) needs exactly ceil(bits/7) groups
    u = ((v << 1) ^ (v >> 63)) & (2 ** 64 - 1)
    assert len(enc) == max(1, -(-u.bit_length() // 7))


@settings(**SETTINGS)
@given(recs=st.lists(
    st.tuples(st.integers(-2 ** 63, 2 ** 63 - 1),
              st.text(max_size=16)),
    max_size=8),
    bs=st.integers(1, 4), deflate=st.booleans())
def test_avro_container_fuzz_roundtrip(recs, bs, deflate):
    """Avro object-container round trip on random records (full
    64-bit id range exercises multi-group zigzag varints inside
    blocks; unicode text exercises the length-prefix byte/char
    distinction), random block size (short last block) and both
    codecs; clipping the final sync marker loud-fails."""
    from memory_engine_spark.sources.formats import (parse_avro_pairs,
                                                     synth_avro_pairs)

    blob = synth_avro_pairs(recs, block_size=bs, deflate=deflate)
    got = parse_avro_pairs(blob)
    assert got["records"] == recs
    assert got["codec"] == ("deflate" if deflate else "null")
    assert got["blocks"] == [min(bs, len(recs) - s)
                             for s in range(0, len(recs), bs)]
    if recs:
        with pytest.raises(ValueError, match="sync|truncated"):
            parse_avro_pairs(blob[:-1])


def test_avro_varint_tenth_byte_overflow_loud_fails():
    """r13 ADVICE pin: the 10th varint byte may only carry bit 63 —
    payload bits 64-69 (final byte & 0x7E) decode to a value no
    conforming Avro writer can emit and must raise, while the two
    legal 10-byte extremes still decode."""
    from memory_engine_spark.sources.formats import _avro_zigzag_dec

    with pytest.raises(ValueError, match="exceeds 64 bits"):
        _avro_zigzag_dec(b"\x80" * 9 + b"\x7f", 0)
    with pytest.raises(ValueError, match="exceeds 64 bits"):
        _avro_zigzag_dec(b"\x80" * 9 + b"\x02", 0)
    assert _avro_zigzag_dec(b"\xff" * 9 + b"\x01", 0)[0] == -2 ** 63
    assert _avro_zigzag_dec(
        b"\xfe" + b"\xff" * 8 + b"\x01", 0)[0] == 2 ** 63 - 1


def test_avro_negative_block_count_loud_fails():
    """r13 ADVICE pin: a corrupt NEGATIVE block record count with
    size == 0 used to pass silently (range(cnt) empty, j == 0 ==
    len(body)) yielding no records; it now loud-fails like every
    other corrupt-count path."""
    from memory_engine_spark.sources.formats import (_avro_zigzag_enc,
                                                     parse_avro_pairs,
                                                     synth_avro_pairs)

    blob = (synth_avro_pairs([]) + _avro_zigzag_enc(-1)
            + _avro_zigzag_enc(0) + b"0123456789abcdef")
    with pytest.raises(ValueError, match="negative avro block"):
        parse_avro_pairs(blob)


def test_avi_short_header_chunks_loud_fail():
    """r13 ADVICE pin: avih/strh/strf fixed-offset field reads are
    bounds-checked against the chunk's OWN csize — a short header
    chunk loud-fails instead of silently reading the neighboring
    chunk's bytes (the desynced-slice class)."""
    from memory_engine_spark.operators import multimodal as mm

    def chunk(cid, body):
        return (cid + len(body).to_bytes(4, "little") + body
                + (b"\x00" if len(body) & 1 else b""))

    def riff(body):
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    with pytest.raises(ValueError, match="avih chunk too short"):
        mm.decode_avi_frames(riff(
            b"AVI " + chunk(b"LIST",
                            b"hdrl" + chunk(b"avih", bytes(36)))))
    ok_avih = chunk(b"avih", bytes(40))
    with pytest.raises(ValueError, match="strh chunk too short"):
        mm.decode_avi_frames(riff(b"AVI " + chunk(
            b"LIST", b"hdrl" + ok_avih + chunk(
                b"LIST", b"strl" + chunk(b"strh",
                                         b"vids" + bytes(20))))))
    with pytest.raises(ValueError, match="strf chunk too short"):
        mm.decode_avi_frames(riff(b"AVI " + chunk(
            b"LIST", b"hdrl" + ok_avih + chunk(
                b"LIST", b"strl" + chunk(b"strh", b"vids" + bytes(24))
                + chunk(b"strf", bytes(16))))))


@settings(**SETTINGS)
@given(recs=st.lists(st.binary(max_size=64), max_size=8),
       flip=st.integers(0, 2 ** 30))
def test_tfrecord_fuzz_roundtrip(recs, flip):
    """TFRecord round trip on random records (incl. empty) plus a
    random single-byte flip ANYWHERE in the stream: the masked
    CRC-32C on the length word and on the payload means every flip
    inside a frame is caught (a flipped length byte must be rejected
    BEFORE its bogus length is trusted); a flip is only survivable
    if there is nothing to protect (empty stream)."""
    from memory_engine_spark.sources.formats import (parse_tfrecord,
                                                     synth_tfrecord)

    blob = synth_tfrecord(recs)
    assert parse_tfrecord(blob) == recs
    if not blob:
        return
    pos = flip % len(blob)
    mut = bytearray(blob)
    mut[pos] ^= 0x01
    with pytest.raises(ValueError):
        parse_tfrecord(bytes(mut))


_tar_name = st.text(alphabet=st.characters(min_codepoint=48,
                                           max_codepoint=122),
                    min_size=1, max_size=90)
_tar_body = st.binary(min_size=0, max_size=1200)


@settings(**SETTINGS)
@given(entries=st.lists(st.tuples(_tar_name, _tar_body), max_size=4),
       flip=st.integers(0, 2 ** 30), bit=st.integers(0, 7))
def test_tar_fuzz_header_flip(entries, flip, bit):
    """ustar flip-anywhere (r10 verdict item 4, the TFRecord pattern
    scoped to what the format actually protects): a bit flip inside
    ANY 512-byte header block must raise (the blanked-field checksum
    covers the whole header), while a flip in a member BODY is
    format-inherently silent — tar has no body checksum — so parsing
    must still succeed and differ from the original in exactly that
    one body."""
    from memory_engine_spark.sources.formats import parse_tar, synth_tar

    blob = synth_tar(entries)
    parsed = parse_tar(blob)
    assert [(e["name"], e["body"]) for e in parsed] == \
        [(n, b) for n, b in entries]

    # map every offset to (kind, entry_idx): header / body / padding
    spans = []
    off = 0
    for k, (_n, body) in enumerate(entries):
        spans.append(("header", k, off, off + 512))
        off += 512
        spans.append(("body", k, off, off + len(body)))
        off += len(body)
        pad = (512 - len(body) % 512) % 512
        spans.append(("pad", k, off, off + pad))
        off += pad
    data_end = off  # terminator blocks follow

    if data_end == 0:
        return                          # terminator-only archive
    pos = flip % data_end
    kind, k = next((kd, kk) for kd, kk, s, e in spans if s <= pos < e)
    mut = bytearray(blob)
    mut[pos] ^= (1 << bit)
    if kind == "header":
        with pytest.raises(ValueError):
            parse_tar(bytes(mut))
    elif kind == "body":
        got = parse_tar(bytes(mut))
        assert [e["name"] for e in got] == [n for n, _ in entries]
        for j, e in enumerate(got):
            if j == k:
                assert e["body"] != entries[j][1]
            else:
                assert e["body"] == entries[j][1]
    else:                               # padding: not checksummed
        parse_tar(bytes(mut))


@settings(**SETTINGS)
@given(name=_tar_name, body=_tar_body, chk_style=st.integers(0, 3))
def test_tar_checksum_octal_space_encodings(name, body, chk_style):
    """The checksum FIELD encoding varies across real writers —
    ``%06o\\0 `` (GNU/ustar), ``%07o\\0``, ``%08o`` (old V7), and
    leading-space padded. The parser must accept all four for the
    same arithmetic value."""
    from memory_engine_spark.sources.formats import parse_tar, synth_tar

    blob = bytearray(synth_tar([(name, body)]))
    hdr = blob[0:512]
    chk = sum(hdr[:148] + b" " * 8 + hdr[156:512])
    enc = [b"%06o\x00 " % chk, b"%07o\x00" % chk, b"%08o" % chk,
           b" %06o\x00" % chk][chk_style]
    assert len(enc) == 8
    blob[148:156] = enc
    got = parse_tar(bytes(blob))
    assert [(e["name"], e["body"]) for e in got] == [(name, body)]


def test_tar_longname_and_pax_override(spark):
    """GNU 'L' and pax 'x' members carry the REAL (>100-char) name of
    the next member; a walk that skips them stays block-aligned but
    silently truncates the following name — the r10 verdict's hazard.
    Also: malformed pax records must raise, not desync."""
    from memory_engine_spark.sources.formats import parse_tar, synth_tar

    long_name = "dir/" + "x" * 150 + ".bin"
    pax_rec = f"path={long_name}"
    base = len(pax_rec) + 2            # the space and the newline
    rl = base + len(str(base))
    while len(str(rl)) + base != rl:   # fixpoint: rl counts itself
        rl = base + len(str(rl))
    pax_body = f"{rl} {pax_rec}\n"
    # GNU longname member ('L'): body = next member's full name
    blob = synth_tar([
        ("././@LongLink", long_name.encode() + b"\x00", "L"),
        (long_name[:99], b"gnu-body"),
        ("PaxHeaders/next", pax_body.encode(), "x"),
        (long_name[:99], b"pax-body"),
        ("plain.txt", b"plain"),
    ])
    got = parse_tar(blob)
    assert [(e["name"], e["body"]) for e in got] == [
        (long_name, b"gnu-body"),
        (long_name, b"pax-body"),
        ("plain.txt", b"plain"),
    ]
    # malformed pax record: framing broken → loud fail
    bad = synth_tar([("PaxHeaders/x", b"999 path=oops\n", "x"),
                     ("victim", b"b")])
    with pytest.raises(ValueError):
        parse_tar(bad)


def test_tar_override_scoped_to_next_member_only():
    """r11 advice (medium): a longname/pax override names the
    IMMEDIATELY FOLLOWING member. If that member is a directory,
    symlink, or any other skipped typeflag, the override belongs to
    IT and must be consumed — not leak onto the next regular file
    (longname + dir + file.txt used to yield one entry misnamed with
    the dir's 120-char path)."""
    from memory_engine_spark.sources.formats import parse_tar, synth_tar

    dir_name = "deep/" + "d" * 115 + "/"
    blob = synth_tar([
        ("././@LongLink", dir_name.encode() + b"\x00", "L"),
        (dir_name[:99], b"", "5"),          # the directory it names
        ("file.txt", b"contents"),
    ])
    got = parse_tar(blob)
    assert [(e["name"], e["body"]) for e in got] == [
        ("file.txt", b"contents")]
    # same leak class through a symlink ('2') and a pax 'x' override
    blob2 = synth_tar([
        ("PaxHeaders/lnk", b"22 path=linked/target\n", "x"),
        ("lnk", b"", "2"),
        ("after.txt", b"after"),
    ])
    assert [(e["name"], e["body"]) for e in parse_tar(blob2)] == [
        ("after.txt", b"after")]


def test_tar_pax_global_header_raises_and_empty_path_is_explicit():
    """pax GLOBAL headers ('g') override every following member — a
    stateful contract the walk does not implement, so it loud-fails
    instead of silently consuming (the silent-rename class). And an
    EMPTY ``path=`` value is still an override: the next member's
    name becomes "" explicitly, never a silent fallback to the
    100-char truncated header name (truthiness bug, r11 advice)."""
    from memory_engine_spark.sources.formats import parse_tar, synth_tar

    glob = synth_tar([
        ("PaxHeaders/global", b"20 path=global/name\n", "g"),
        ("member.txt", b"m"),
    ])
    with pytest.raises(ValueError, match="global"):
        parse_tar(glob)

    empty = synth_tar([
        ("PaxHeaders/e", b"8 path=\n", "x"),
        ("fallback-would-be-this-name", b"body"),
    ])
    got = parse_tar(empty)
    assert [(e["name"], e["body"]) for e in got] == [("", b"body")]


@settings(**SETTINGS)
@given(n=st.integers(1, 3), h=st.integers(1, 4), w=st.integers(1, 4),
       salt=st.integers(0, 255), boxpick=st.integers(0, 2 ** 20),
       oversz=st.integers(1, 2 ** 28))
def test_mp4_fuzz_box_sizes(n, h, w, salt, boxpick, oversz):
    """ISO-BMFF box-walk hazards (r10 verdict item 4): (1) a box whose
    size overruns its enclosure must raise wherever it sits in the
    tree — never a mis-slice; (2) an undersize (2..7, less than its
    own header) must raise; (3) rewriting the trailing 'moov' to the
    64-bit largesize form, or to size==0 (to-end-of-enclosure), is
    semantics-preserving and must decode identically."""
    import numpy as np

    from memory_engine_spark.operators import multimodal

    frames = ((np.arange(n * h * w * 3, dtype=np.uint32) * 37 + salt)
              % 251).astype(np.uint8).reshape(n, h, w, 3)
    blob = multimodal.synth_mp4(frames, fps=5)
    dec, fps = multimodal.decode_mp4_frames(blob)
    assert fps == 5 and np.array_equal(dec, frames)

    # collect every box's (size-field offset, enclosure end) in the tree
    boxes: list = []

    def walk(b, s, e):
        for btype, ps, pe in multimodal._mp4_boxes(b, s, e):
            hdr_at = ps - 8 if int.from_bytes(
                b[ps - 8:ps - 4], "big") != 1 else ps - 16
            boxes.append((hdr_at, pe, e))
            if btype in (b"moov", b"trak", b"mdia", b"minf", b"stbl",
                         b"dinf"):
                walk(b, ps, pe)

    walk(blob, 0, len(blob))
    at, _pe, encl = boxes[boxpick % len(boxes)]

    # A corrupted size must either raise on the walk OR be provably
    # invisible (the box sits in a subtree the demux never iterates —
    # e.g. inside dinf, or after the first path match in a sibling
    # list): then the decode must be byte-identical. A DIFFERENT
    # successful decode = silent mis-slice = the bug class.
    def raise_or_identical(mut_blob):
        try:
            d, f = multimodal.decode_mp4_frames(bytes(mut_blob))
        except ValueError:
            return
        assert f == 5 and np.array_equal(d, frames), \
            "corrupted size produced a DIFFERENT successful decode"

    # (1) overrun: size > enclosure remainder
    over = encl - at + 1 + (oversz % 64)
    mut = bytearray(blob)
    mut[at:at + 4] = min(over, 2 ** 32 - 1).to_bytes(4, "big")
    raise_or_identical(mut)

    # (2) undersize (2..7: less than its own header, not 0/1)
    mut2 = bytearray(blob)
    mut2[at:at + 4] = (2 + oversz % 6).to_bytes(4, "big")
    raise_or_identical(mut2)

    # (3) largesize + size==0 rewrites of the trailing moov box
    top = [(s, e) for t, s, e in multimodal._mp4_boxes(
        blob, 0, len(blob)) if t == b"moov"]
    (ms, me), = top
    moov_payload = blob[ms:me]
    big = (blob[:ms - 8] + (1).to_bytes(4, "big") + b"moov"
           + (len(moov_payload) + 16).to_bytes(8, "big") + moov_payload)
    dec2, fps2 = multimodal.decode_mp4_frames(big)
    assert fps2 == 5 and np.array_equal(dec2, frames)
    zero = (blob[:ms - 8] + (0).to_bytes(4, "big") + b"moov"
            + moov_payload)
    dec3, fps3 = multimodal.decode_mp4_frames(zero)
    assert fps3 == 5 and np.array_equal(dec3, frames)


@settings(**SETTINGS)
@given(n=st.integers(16, 200), sr=st.sampled_from([8000, 16000, 44100]),
       seed=st.integers(0, 2 ** 20),
       flip=st.integers(0, 2 ** 30), bit=st.integers(0, 7))
def test_flac_fuzz_frame_flip(n, sr, seed, flip, bit):
    """FLAC flip-anywhere, scoped to what the format protects (the
    TAR/TFRecord pattern): every byte from the first frame onward is
    covered by a CRC-8'd header or a CRC-16'd frame body, so a bit
    flip ANYWHERE in the frame region must raise — never a successful
    decode with different samples. (STREAMINFO carries no CRC —
    format-inherent — so metadata flips are out of scope.)"""
    import numpy as np

    from memory_engine_spark.operators import multimodal

    samples = (((np.arange(n, dtype=np.int64) * 2654435761 + seed)
                % 65536) - 32768)
    blob = multimodal.synth_flac(samples, sample_rate=sr, block_size=64)
    dec, got_sr = multimodal.decode_flac(blob)
    assert got_sr == sr and np.array_equal(dec, samples)

    # frame region starts after the (single, is-last) STREAMINFO block
    blen = int.from_bytes(blob[5:8], "big")
    fstart = 8 + blen
    assert blob[4] >> 7 == 1            # is-last metadata flag
    pos = fstart + (flip % (len(blob) - fstart))
    mut = bytearray(blob)
    mut[pos] ^= (1 << bit)
    try:
        multimodal.decode_flac(bytes(mut))
    except Exception:
        return                           # loud-fail: the CRCs worked
    # a "successful" decode of a flipped frame region is exactly the
    # silent-wrongness class the CRCs exist to prevent
    raise AssertionError("flipped FLAC frame region decoded cleanly")


def test_flac_single_sample_final_block_roundtrip():
    """r13 hypothesis find (n=193 via fresh sampling), pinned
    deterministically because the example DB is local-only: when
    n % block_size == 1 the final block is a single CONSTANT sample,
    and the fixed-subframe demotion used to fire only for
    NON-constant short blocks — a claimed order > bs then emitted
    fewer warm-ups than the header promised plus a negative
    first-partition count, desyncing the bitstream ('FLAC bitstream
    overrun' / 'reserved residual method'). Every fixed rotation
    order must round-trip a 1-sample final block, mono and stereo."""
    import numpy as np

    from memory_engine_spark.operators import multimodal

    for n in (65, 129, 193, 257, 321):   # final-block orders 1..5%5
        for seed in (0, 7):
            s = (((np.arange(n, dtype=np.int64) * 2654435761 + seed)
                  % 65536) - 32768)
            blob = multimodal.synth_flac(s, sample_rate=8000,
                                         block_size=64)
            dec, sr = multimodal.decode_flac(blob)
            assert sr == 8000 and np.array_equal(dec, s), n
            left, right = s, -(s // 2)   # keep right in int16 range
            st = multimodal.synth_flac_stereo(left, right, 8000, 64)
            dst, _ = multimodal.decode_flac(st)
            assert np.array_equal(dst[:, 0], left), n
            assert np.array_equal(dst[:, 1], right), n


@settings(**SETTINGS)
@given(sizes=st.lists(st.integers(0, 700), min_size=1, max_size=4),
       seed=st.integers(0, 255),
       flip=st.integers(0, 2 ** 30), bit=st.integers(0, 7))
def test_ogg_fuzz_page_flip(spark, sizes, seed, flip, bit):
    """Ogg flip-anywhere: every byte of every page — header, segment
    table, payload, even the CRC field itself — is covered by the
    page CRC (computed with the field zeroed), so a flip anywhere
    must either loud-fail the walk (structural break: magic, lacing,
    truncation) or surface as crc_ok=False on at least one packet.
    A clean all-crc_ok result from a flipped stream is the bug."""
    from memory_engine_spark.operators import multimodal

    packets = [bytes((i * 31 + j + seed) % 256 for j in range(sz))
               for i, sz in enumerate(sizes)]
    blob = multimodal.synth_ogg(packets, serial=7,
                                granules=list(range(1, len(packets) + 1)))
    mk = lambda b: spark.createDataFrame(
        [("m", bytearray(b))], "media_id string, payload binary")
    base = multimodal.ogg_packets(mk(blob)).collect()
    assert len(base) == len(packets)
    assert all(r["crc_ok"] for r in base)

    pos = flip % len(blob)
    mut = bytearray(blob)
    mut[pos] ^= (1 << bit)
    try:
        rows = multimodal.ogg_packets(mk(bytes(mut))).collect()
    except Exception:
        return                           # structural loud-fail
    assert any(not r["crc_ok"] for r in rows), \
        "flipped Ogg stream walked with every page CRC green"


@settings(**SETTINGS)
@given(n_cl=st.integers(1, 3), lace=st.sampled_from(["none", "xiph",
                                                     "ebml", "fixed"]),
       seed=st.integers(0, 255),
       flip=st.integers(0, 2 ** 30), bit=st.integers(0, 7))
def test_mkv_fuzz_cluster_flip(spark, n_cl, lace, seed, flip, bit):
    """Matroska flip-anywhere, scoped to the EBML CRC-32's coverage:
    every byte of a Cluster AFTER its leading CRC element is covered,
    so a flip there must surface as crc_ok=False (or a structural
    loud-fail from the block/lacing walk). Completes the CRC-container
    set: TFRecord + ZIP (r10), TAR headers, Ogg pages, FLAC frames,
    MKV clusters (r11)."""
    from memory_engine_spark.operators import multimodal

    n_fr = 1 if lace == "none" else 3      # no-lacing = 1 frame/block
    sz = 20 if lace == "fixed" else None   # fixed lacing = equal sizes
    frames = [bytes((seed + i * 17 + j) % 256
                    for j in range(sz or 20 + i)) for i in range(n_fr)]
    clusters = [(1000 * c, [(1, 10, True, lace, frames)])
                for c in range(n_cl)]
    blob = multimodal.synth_mkv("matroska", 1_000_000, (64, 48), clusters)
    mk = lambda b: spark.createDataFrame(
        [("m", bytearray(b))], "media_id string, payload binary")
    base = multimodal.mkv_blocks(mk(blob)).collect()
    assert len(base) == n_cl and all(r["crc_ok"] for r in base)

    # locate every cluster's CRC-covered span via the module's own walk
    spans = []
    for eid, s, e in multimodal._ebml_children(blob, 0, len(blob)):
        if eid != 0x18538067:            # Segment
            continue
        for kid, ks, ke in multimodal._ebml_children(blob, s, e):
            if kid != 0x1F43B675:        # Cluster
                continue
            kids = list(multimodal._ebml_children(blob, ks, ke))
            assert kids[0][0] == 0xBF    # leading CRC element
            spans.append((kids[0][2], ke))   # covered: after CRC..end
    total = sum(e - s for s, e in spans)
    assert total > 0
    off = flip % total
    for s, e in spans:
        if off < e - s:
            pos = s + off
            break
        off -= e - s
    mut = bytearray(blob)
    mut[pos] ^= (1 << bit)
    try:
        rows = multimodal.mkv_blocks(mk(bytes(mut))).collect()
    except Exception:
        return                           # structural loud-fail
    assert any(not r["crc_ok"] for r in rows), \
        "flipped MKV cluster walked with every CRC green"


@settings(**SETTINGS)
@given(h=st.integers(1, 6), w=st.integers(1, 6),
       ctype=st.sampled_from([0, 2, 4, 6]), salt=st.integers(0, 255),
       flip=st.integers(0, 2 ** 30), bit=st.integers(0, 7))
def test_png_fuzz_chunk_flip(h, w, ctype, salt, flip, bit):
    """PNG flip-anywhere (r11): every byte from the first chunk to
    IEND is covered by a chunk CRC-32 (over type+data; the length
    field's flip shifts the CRC slice and fails too), and the
    signature bytes are checked literally — so a flip anywhere in the
    payload must raise. The decoder used to SKIP chunk CRCs: a flipped
    IHDR color-type byte would silently decode a garbage shape (the
    zlib adler only covers IDAT) — this property pins the fix."""
    import numpy as np

    from memory_engine_spark.operators import multimodal

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    px = (((np.arange(h * w * ch, dtype=np.uint32) * 97 + salt) % 251)
          .astype(np.uint8).reshape(h, w, ch))
    blob = multimodal.synth_png(px)
    dec = multimodal.decode_png_pixels(blob)
    assert np.array_equal(dec, px)

    pos = flip % len(blob)
    mut = bytearray(blob)
    mut[pos] ^= (1 << bit)
    try:
        out = multimodal.decode_png_pixels(bytes(mut))
    except Exception:
        return                           # loud-fail: CRC/signature
    raise AssertionError(
        f"flipped PNG byte {pos} decoded cleanly to shape {out.shape}")


@settings(**SETTINGS)
@given(n_rec=st.integers(1, 4), seed=st.integers(0, 255),
       flip=st.integers(0, 2 ** 30), bit=st.integers(0, 7))
def test_warc_fuzz_framing_flip(n_rec, seed, flip, bit):
    """WARC carries NO integrity checksum (format-inherent), so the
    assertable invariant is FRAMING, not content: a bit flip anywhere
    must either loud-fail (magic, Content-Length overrun, separator,
    truncated header) or parse to exactly the original record COUNT —
    the walk must never silently merge or split records. Content flips
    inside a block change bodies silently; that is what the format
    permits and why the pipeline's md5 columns exist downstream."""
    from memory_engine_spark.sources.formats import parse_warc, synth_warc

    records = []
    for i in range(n_rec):
        body = bytes((seed + i * 13 + j) % 256 for j in range(30 + i))
        if i % 2 == 0:
            block = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                     b"\r\n" + body)
            records.append({"warc_type": "response",
                            "uri": f"http://x{i}.test/", "block": block})
        else:
            records.append({"warc_type": "request",
                            "uri": f"http://x{i}.test/", "block": body})
    blob = synth_warc(records)
    base = parse_warc(blob)
    assert len(base) == n_rec

    pos = flip % len(blob)
    mut = bytearray(blob)
    mut[pos] ^= (1 << bit)
    try:
        got = parse_warc(bytes(mut))
    except ValueError:
        return                           # structural loud-fail
    assert len(got) == n_rec, \
        "flipped WARC silently merged/split records"


@settings(**SETTINGS)
@given(h=st.integers(1, 5), w=st.integers(1, 5),
       salt=st.integers(0, 255), big=st.booleans(),
       packbits=st.booleans(), rps=st.integers(1, 3),
       flip=st.integers(0, 2 ** 30), bit=st.integers(0, 7))
def test_tiff_fuzz_flip_anywhere(h, w, salt, big, packbits, rps,
                                 flip, bit):
    """TIFF flip-anywhere (r11 verdict item 4): the format has NO
    checksum and its IFD carries absolute offsets that can point
    anywhere — the same desync class as the TAR longname bug. The
    assertable contract: a flip in a METADATA byte (header, bps
    array, IFD, offset/count arrays) either loud-fails or is inert
    (byte-identical pixels — e.g. the unread next-IFD pointer); a
    flip in uncompressed strip DATA decodes to pixels differing from
    the original (tar-body class: format-inherently silent); a flip
    in PackBits data loud-fails or decodes to a well-formed frame.
    Silent desync — metadata flip, clean decode, DIFFERENT pixels —
    is the bug class this property exists to kill."""
    import numpy as np

    from memory_engine_spark.operators import multimodal

    px = (((np.arange(h * w * 3, dtype=np.uint32) * 131 + salt) % 251)
          .astype(np.uint8).reshape(h, w, 3))
    blob = multimodal.synth_tiff(px, big_endian=big, packbits=packbits,
                                 rows_per_strip=rps)
    assert np.array_equal(multimodal.decode_tiff_pixels(blob), px)

    bo = "big" if big else "little"
    ifd_off = int.from_bytes(blob[4:8], bo)   # strips end where IFD starts
    pos = flip % len(blob)
    mut = bytearray(blob)
    mut[pos] ^= (1 << bit)
    try:
        got = multimodal.decode_tiff_pixels(bytes(mut))
    except (ValueError, NotImplementedError):
        return                           # loud-fail: always acceptable
    assert isinstance(got, np.ndarray) and got.shape == px.shape
    if 14 <= pos < ifd_off:              # strip-data region
        if not packbits:
            assert not np.array_equal(got, px), \
                "uncompressed pixel flip vanished"
    else:                                # metadata region
        assert np.array_equal(got, px), (
            f"metadata flip at byte {pos} silently changed pixels "
            "(desynced walk)")


def test_tiff_desynced_offsets_loud_fail():
    """Explicit out-of-bounds / overlapping-IFD StripOffsets cases
    (r11 verdict item 4 names these): an offset pointing past EOF,
    into the IFD, or two strips onto the same bytes must each raise —
    never silently decode metadata bytes as pixels."""
    import numpy as np
    import pytest

    from memory_engine_spark.operators import multimodal

    px = (np.arange(4 * 4 * 3, dtype=np.uint8)).reshape(4, 4, 3)
    blob = multimodal.synth_tiff(px, rows_per_strip=2)   # 2 strips
    ifd_off = int.from_bytes(blob[4:8], "little")
    n = int.from_bytes(blob[ifd_off:ifd_off + 2], "little")
    arr_off = ifd_off + 2 + 12 * n + 4   # StripOffsets array (synth layout)

    def patched(first_off):
        mut = bytearray(blob)
        mut[arr_off:arr_off + 4] = first_off.to_bytes(4, "little")
        return bytes(mut)

    with pytest.raises(ValueError, match="out of bounds"):
        multimodal.decode_tiff_pixels(patched(len(blob)))
    with pytest.raises(ValueError, match="overlaps TIFF metadata"):
        multimodal.decode_tiff_pixels(patched(ifd_off))
    with pytest.raises(ValueError, match="overlaps TIFF metadata"):
        multimodal.decode_tiff_pixels(patched(0))        # header
    # both strips at the second strip's offset → mutual overlap
    second = int.from_bytes(blob[arr_off + 4:arr_off + 8], "little")
    with pytest.raises(ValueError, match="overlap each other"):
        multimodal.decode_tiff_pixels(patched(second))


@settings(**SETTINGS)
@given(h=st.integers(1, 6), w=st.integers(1, 6),
       n_colors=st.integers(2, 8), salt=st.integers(0, 255),
       flip=st.integers(0, 2 ** 30), bit=st.integers(0, 7))
def test_gif_fuzz_flip_anywhere(h, w, n_colors, salt, flip, bit):
    """GIF flip-anywhere (r11 verdict item 4): LZW carries no
    checksum, so content flips are format-inherently silent — the
    assertable contract is CONTROLLED failure: every flip either
    raises ValueError/NotImplementedError or returns a well-formed
    (H, W, 3) uint8 frame. Two crash classes this pins: a flipped
    LZW min-code byte used to size the root table as 2**byte (memory
    bomb, now a loud parse error), and a corrupt stream yielding a
    palette index past the color table (numpy IndexError, now
    ValueError). Flips past the image descriptor cannot change the
    frame SHAPE — dims were already parsed."""
    import numpy as np

    from memory_engine_spark.operators import multimodal

    rng = (np.arange(h * w, dtype=np.uint32) * 53 + salt)
    idx = (rng % n_colors).astype(np.uint8).reshape(h, w)
    pal = (((np.arange(n_colors * 3, dtype=np.uint32) * 71 + salt)
            % 256).astype(np.uint8).reshape(n_colors, 3))
    blob = multimodal.synth_gif(idx, pal)
    base = multimodal.decode_gif_pixels(blob)
    assert np.array_equal(base, pal[idx])

    bits = max(1, int(n_colors - 1).bit_length())
    desc_off = 13 + 3 * (1 << bits)      # synth layout: LSD + GCT
    pos = flip % len(blob)
    mut = bytearray(blob)
    mut[pos] ^= (1 << bit)
    try:
        got = multimodal.decode_gif_pixels(bytes(mut))
    except (ValueError, NotImplementedError):
        return                           # controlled loud-fail
    assert isinstance(got, np.ndarray)
    assert got.dtype == np.uint8 and got.ndim == 3 and got.shape[2] == 3
    if 13 <= pos < desc_off or pos >= desc_off + 9:
        # palette byte or post-dims byte: frame shape is pinned
        assert got.shape == base.shape


@settings(**SETTINGS)
@given(h=st.integers(1, 6), w=st.integers(1, 6),
       salt=st.integers(0, 255),
       flip=st.integers(0, 2 ** 30), bit=st.integers(0, 7))
def test_bmp_fuzz_flip_anywhere(h, w, salt, flip, bit):
    """BMP flip-anywhere (r11 verdict item 4, the cheap tail): BMP is
    uncompressed and checksum-less, so body flips are inherently
    silent — the contract is controlled behavior: every flip raises
    ValueError/NotImplementedError or returns well-formed uint8
    pixels; a body flip keeps the frame shape and either changes
    pixels (pixel byte) or is inert (4-byte row padding); and a
    pixel-array offset pointing into the 54 header bytes loud-fails
    (the desynced-offset class) instead of decoding the header as
    pixels."""
    import numpy as np

    from memory_engine_spark.operators import multimodal

    px = (((np.arange(h * w * 3, dtype=np.uint32) * 59 + salt) % 249)
          .astype(np.uint8).reshape(h, w, 3))
    blob = multimodal.synth_bmp(px)
    assert np.array_equal(multimodal.decode_bmp_pixels(blob), px)

    pos = flip % len(blob)
    mut = bytearray(blob)
    mut[pos] ^= (1 << bit)
    try:
        got = multimodal.decode_bmp_pixels(bytes(mut))
    except (ValueError, NotImplementedError):
        return                           # controlled loud-fail
    assert isinstance(got, np.ndarray)
    assert got.dtype == np.uint8 and got.ndim == 3 and got.shape[2] == 3
    if pos >= 54:                        # body: dims parsed from header
        assert got.shape == px.shape
        stride = (w * 3 + 3) & ~3
        col = (pos - 54) % stride
        if col < w * 3:                  # pixel byte, not row padding
            assert not np.array_equal(got, px), \
                "pixel-byte flip vanished"
        else:
            assert np.array_equal(got, px)   # padding is inert


def test_bmp_header_offset_desync_loud_fails():
    """Explicit data_off-into-header case: decoding must reject an
    offset that overlaps BITMAPFILEHEADER/BITMAPINFOHEADER rather
    than silently returning header bytes as pixels."""
    import numpy as np
    import pytest

    from memory_engine_spark.operators import multimodal

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    blob = bytearray(multimodal.synth_bmp(px))
    blob[10:14] = (22).to_bytes(4, "little")
    # keep the buffer long enough that only the overlap check can fire
    blob += b"\x00" * 64
    with pytest.raises(ValueError, match="overlaps headers"):
        multimodal.decode_bmp_pixels(bytes(blob))


@settings(**SETTINGS)
@given(h=st.integers(1, 4), w=st.integers(1, 4), nf=st.integers(1, 3),
       salt=st.integers(0, 255),
       flip=st.integers(0, 2 ** 30), bit=st.integers(0, 7))
def test_avi_fuzz_flip_anywhere(h, w, nf, salt, flip, bit):
    """AVI flip-anywhere (r12, completing the r11 item-4 CRC-less
    tail): RIFF sizes are checksum-less, so the walk enforces
    structure — chunks fit and TILE their parent, frame chunks are
    exactly h*stride bytes — and the contract is raise-or-controlled:
    a frame-body pixel flip keeps shape/fps and changes pixels, a
    row-padding or idx1 flip is inert (the index is unused), and any
    flip that desyncs the walk loud-fails instead of silently
    dropping or resynthesizing frames."""
    import numpy as np

    from memory_engine_spark.operators import multimodal

    px = (((np.arange(nf * h * w * 3, dtype=np.uint32) * 31 + salt)
           % 251).astype(np.uint8).reshape(nf, h, w, 3))
    blob = multimodal.synth_avi(px, fps=4)
    base, fps = multimodal.decode_avi_frames(blob)
    assert np.array_equal(base, px) and fps == 4

    pos = flip % len(blob)
    mut = bytearray(blob)
    mut[pos] ^= (1 << bit)
    try:
        got, gfps = multimodal.decode_avi_frames(bytes(mut))
    except (ValueError, NotImplementedError):
        return                           # controlled loud-fail
    assert isinstance(got, np.ndarray)
    assert got.dtype == np.uint8 and got.ndim == 4 and got.shape[3] == 3

    stride = (w * 3 + 3) & ~3
    fsz = h * stride
    kids = blob.find(b"movi") + 4        # first movi child chunk
    for k in range(nf):
        body = kids + k * (8 + fsz) + 8
        if body <= pos < body + fsz:     # frame-body byte
            assert got.shape == px.shape and gfps == 4
            if (pos - body) % stride < w * 3:
                assert not np.array_equal(got, px), \
                    "pixel-byte flip vanished"
            else:                        # 4-byte row padding is inert
                assert np.array_equal(got, px)
            return
    if pos >= kids + nf * (8 + fsz) + 8:  # idx1 body: unused by walk
        assert np.array_equal(got, px) and gfps == 4


def test_avi_desynced_chunk_size_loud_fails():
    """Explicit size-desync cases: growing a frame chunk's declared
    size must raise (exact-raster or tiling check), never silently
    resync the movi walk; a RIFF size past the payload end raises."""
    import numpy as np
    import pytest

    from memory_engine_spark.operators import multimodal

    px = np.zeros((2, 2, 2, 3), dtype=np.uint8)
    blob = multimodal.synth_avi(px, fps=4)
    kids = blob.find(b"movi") + 4
    fsz = 2 * ((2 * 3 + 3) & ~3)

    grown = bytearray(blob)              # frame 0 claims 8 extra bytes
    grown[kids + 4:kids + 8] = (fsz + 8).to_bytes(4, "little")
    with pytest.raises(ValueError):
        multimodal.decode_avi_frames(bytes(grown))

    long_riff = bytearray(blob)
    long_riff[4:8] = (len(blob) + 64).to_bytes(4, "little")
    with pytest.raises(ValueError, match="exceeds payload"):
        multimodal.decode_avi_frames(bytes(long_riff))


def test_avi_header_dims_cannot_size_the_allocation():
    """Flipped avih dwWidth/dwHeight (bytes 64-71) must loud-fail
    without allocating from the declared size: the exact-raster
    check runs before the output array exists, so the decode's
    traced peak stays a small multiple of the payload. numpy reports
    even its lazy, never-touched allocations to tracemalloc, so this
    fails on any host, however much memory it has, when the header's
    (W, H) sizes the array first (2 x 16384 x 16384 x 3 = 1.6 GB)."""
    import tracemalloc

    import numpy as np
    import pytest

    from memory_engine_spark.operators import multimodal

    blob = bytearray(multimodal.synth_avi(
        np.zeros((2, 4, 4, 3), dtype=np.uint8), fps=4))
    assert blob[64:72] == (4).to_bytes(4, "little") * 2
    blob[64:68] = (1 << 14).to_bytes(4, "little")
    blob[68:72] = (1 << 14).to_bytes(4, "little")
    payload = bytes(blob)

    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="DIB raster"):
            multimodal.decode_avi_frames(payload)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak <= 32 * len(payload), \
        f"decode peaked at {peak} B for a {len(payload)} B payload"


@settings(**SETTINGS)
@given(n=st.integers(1, 24), salt=st.integers(0, 255),
       flip=st.integers(0, 2 ** 30), bit=st.integers(0, 7))
def test_wav_fuzz_flip_anywhere(n, salt, flip, bit):
    """WAV flip-anywhere (r12, same treatment as AVI): RIFF sizes are
    checksum-less, so `decode_wav_pcm` enforces structure — RIFF size
    within payload, chunks fit and tile, PCM data a whole number of
    sample frames. Contract: every flip raises or returns well-formed
    (int32 samples, rate, tag); a flip inside the data body of a
    mono PCM16 stream always changes the decoded samples (every bit
    of an int16 sample is significant — if the flip vanishes, the
    decoder silently dropped sample bytes)."""
    import numpy as np

    from memory_engine_spark.operators import multimodal

    s = (((np.arange(n, dtype=np.int64) * 2654435761 + salt) % 65521)
         - 32760).astype(np.int16)
    blob = multimodal.synth_wav_pcm16(s, sample_rate=8000)
    x0, rate0, tag0 = multimodal.decode_wav_pcm(blob)
    assert x0.tolist() == s.astype(np.int32).tolist()
    assert (rate0, tag0) == (8000, 1)

    pos = flip % len(blob)
    mut = bytearray(blob)
    mut[pos] ^= (1 << bit)
    try:
        x, rate, tag = multimodal.decode_wav_pcm(bytes(mut))
    except (ValueError, NotImplementedError):
        return                           # controlled loud-fail
    assert isinstance(x, np.ndarray) and x.dtype == np.int32
    body = blob.find(b"data") + 8        # data chunk body start
    if body <= pos < body + 2 * n:       # sample byte
        assert len(x) == n and (rate, tag) == (8000, 1)
        assert x.tolist() != x0.tolist(), "sample-byte flip vanished"


def test_wav_desynced_sizes_loud_fail():
    """Explicit WAV desync cases: a data csize past the RIFF end, a
    RIFF size past the payload, and a PCM16 data length that is not a
    whole number of frames all raise instead of silently truncating
    the slice or dropping tail bytes."""
    import numpy as np
    import pytest

    from memory_engine_spark.operators import multimodal

    s = np.arange(4, dtype=np.int16)
    blob = multimodal.synth_wav_pcm16(s, sample_rate=8000)
    dpos = blob.find(b"data")

    grown = bytearray(blob)              # data claims 8 extra bytes
    grown[dpos + 4:dpos + 8] = (8 + 8).to_bytes(4, "little")
    with pytest.raises(ValueError, match="overruns|tile"):
        multimodal.decode_wav_pcm(bytes(grown))

    long_riff = bytearray(blob)
    long_riff[4:8] = (len(blob) + 64).to_bytes(4, "little")
    with pytest.raises(ValueError, match="exceeds payload"):
        multimodal.decode_wav_pcm(bytes(long_riff))

    # odd PCM16 data length: csize 7 + pad keeps the walk tiling, but
    # 7 bytes is 3.5 frames — must raise, not floor to 3 samples
    odd = bytearray(blob)
    odd[dpos + 4:dpos + 8] = (7).to_bytes(4, "little")
    with pytest.raises(ValueError, match="sample frames"):
        multimodal.decode_wav_pcm(bytes(odd))


def test_jpeg_flip_anywhere_exhaustive_gray():
    """JPEG flip-EVERYWHERE, exhaustively (r12): JPEG segments and
    entropy data carry no checksum, so the contract is controlled
    behavior under ANY single-bit corruption — raise ValueError /
    NotImplementedError or return well-formed uint8 pixels, never an
    escape exception (KeyError on a flipped table id, IndexError on a
    truncated DQT/DHT/SOF/SOS slice, OverflowError from a DHT value
    byte widening bits_read past int64) and never a memory bomb (a
    flipped SOF dimension byte must fail the blocks-vs-scan-bytes
    plausibility check, not allocate gigabytes). The gray payload is
    small enough to scan every (byte, bit) — 2520 decodes, sub-second
    — which is strictly stronger than sampling."""
    import numpy as np

    from memory_engine_spark.operators import multimodal

    blob = multimodal.synth_jpeg_gray(
        [[8, 3, 0] + [0] * 61, [5, 0, 0] + [0] * 61,
         [9, 0, 1] + [0] * 61, [4, 2, 0] + [0] * 61], 16, 16)
    assert multimodal.decode_jpeg_gray(blob).shape == (16, 16)
    for pos in range(len(blob)):
        for bit in range(8):
            mut = bytearray(blob)
            mut[pos] ^= 1 << bit
            try:
                got = multimodal.decode_jpeg_gray(bytes(mut))
            except (ValueError, NotImplementedError):
                continue
            assert isinstance(got, np.ndarray) and got.dtype == np.uint8


@settings(**SETTINGS)
@given(variant=st.sampled_from(["color", "420", "420rst"]),
       flip=st.integers(0, 2 ** 30), bit=st.integers(0, 7))
def test_jpeg_fuzz_flip_anywhere_color(variant, flip, bit):
    """Same contract for the 3-component variants (4:4:4, 4:2:0, and
    4:2:0 with restart markers — the RSTn resync path has its own
    walk); sampled rather than exhaustive to keep runtime bounded."""
    import numpy as np

    from memory_engine_spark.operators import multimodal

    yb = [[6, 1, 0] + [0] * 61, [7, 0, 2] + [0] * 61,
          [5, 1, 1] + [0] * 61, [8, 0, 0] + [0] * 61]
    cbb = [[3, 1, 0] + [0] * 61, [2, 0, 0] + [0] * 61,
           [4, 0, 0] + [0] * 61, [1, 1, 0] + [0] * 61]
    crb = [[2, 0, 1] + [0] * 61, [5, 0, 0] + [0] * 61,
           [3, 1, 0] + [0] * 61, [2, 0, 0] + [0] * 61]
    if variant == "color":
        blob = multimodal.synth_jpeg_color([yb, cbb, crb], 16, 16)
    else:
        blob = multimodal.synth_jpeg_420(
            yb, [[3] + [0] * 63], [[2] + [0] * 63], 16, 16,
            restart_interval=2 if variant == "420rst" else 0)
    assert multimodal.decode_jpeg_color(blob).shape == (16, 16, 3)

    pos = flip % len(blob)
    mut = bytearray(blob)
    mut[pos] ^= (1 << bit)
    try:
        got = multimodal.decode_jpeg_color(bytes(mut))
    except (ValueError, NotImplementedError):
        return                           # controlled loud-fail
    assert isinstance(got, np.ndarray) and got.dtype == np.uint8
    assert got.ndim == 3 and got.shape[2] == 3


def _sweep_targets():
    """The exhaustive-sweep target list: (name, payload, decoder)
    per pure-bytes parser, shared by the escape/hang sweep below and
    the registry-coverage gate (r12 verdict item 4: a parser added
    without a sweep entry must fail a TEST, not a review)."""
    import functools
    import io

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import orc as paorc

    from memory_engine_spark.operators import multimodal as mm
    from memory_engine_spark.sources import formats as fm

    px3 = (((np.arange(5 * 7 * 3, dtype=np.uint32) * 59 + 11) % 249)
           .astype(np.uint8).reshape(5, 7, 3))
    idx = (np.arange(36, dtype=np.uint32) * 7 % 5).astype(np.uint8) \
        .reshape(6, 6)
    pal = (((np.arange(24, dtype=np.uint32) * 37 + 3) % 251)
           .astype(np.uint8).reshape(8, 3))
    s16 = ((((np.arange(25, dtype=np.int64) * 2654435761 + 9) % 65521)
            - 32760).astype(np.int16))
    fr = (((np.arange(2 * 4 * 4 * 3, dtype=np.uint32) * 31 + 5) % 251)
          .astype(np.uint8).reshape(2, 4, 4, 3))
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"hello body")
    # r13: the lakehouse tail walkers join the sweep — pyarrow is the
    # independent writer (its framing differs from Spark's in detail
    # but not in format), payloads kept tiny so the exhaustive flip
    # stays cheap
    table = pa.table({"k": pa.array(range(40), type=pa.int64()),
                      "s": pa.array([f"s{i}" for i in range(40)]),
                      "i3": pa.array(range(-20, 20), type=pa.int32())})
    pq_buf = io.BytesIO()
    pq.write_table(table, pq_buf, compression="snappy")
    orc_buf = io.BytesIO()
    paorc.write_table(table, orc_buf, compression="zlib")
    pqc_buf = io.BytesIO()
    pq.write_table(table, pqc_buf, compression="snappy",
                   write_page_checksum=True)
    pqd_buf = io.BytesIO()                  # r14: the delta family
    pq.write_table(table, pqd_buf, compression="snappy",
                   use_dictionary=False,
                   column_encoding={"k": "DELTA_BINARY_PACKED",
                                    "s": "DELTA_BYTE_ARRAY",
                                    "i3": "DELTA_BINARY_PACKED"})
    pqg_buf = io.BytesIO()                  # r15: gzip page codec
    pq.write_table(table, pqg_buf, compression="gzip")
    pql_buf = io.BytesIO()                  # r15: LZ4_RAW page codec
    pq.write_table(table, pql_buf, compression="lz4")
    pqg2_buf = io.BytesIO()                 # r15: gzip under v2 pages
    # (levels outside the compressed body; the negative-body-claim
    # guard lives on this path)
    pq.write_table(table, pqg2_buf, compression="gzip",
                   data_page_version="2.0")
    pqm_buf = io.BytesIO()                  # r15: multi-row-group +
    # multi-page shape (row_group_size=16 → 3 groups; tiny
    # data_page_size forces >1 page per chunk) — exercises the
    # cross-page got-counter and per-group loop under flips
    pq.write_table(table, pqm_buf, compression="gzip",
                   row_group_size=16, data_page_size=64,
                   use_dictionary=False)
    targets = [
        ("parquet_footer", pq_buf.getvalue(), fm.parquet_footer_meta),
        ("parquet_int64", pq_buf.getvalue(),
         functools.partial(fm.parquet_read_int64_column, col="k")),
        ("parquet_int64_crc", pqc_buf.getvalue(),
         functools.partial(fm.parquet_read_int64_column, col="k")),
        ("parquet_str", pq_buf.getvalue(),
         functools.partial(fm.parquet_read_string_column, col="s")),
        ("parquet_str_crc", pqc_buf.getvalue(),
         functools.partial(fm.parquet_read_string_column, col="s")),
        ("parquet_int64_delta", pqd_buf.getvalue(),
         functools.partial(fm.parquet_read_int64_column, col="k")),
        ("parquet_str_delta", pqd_buf.getvalue(),
         functools.partial(fm.parquet_read_string_column, col="s")),
        ("parquet_int32_delta", pqd_buf.getvalue(),
         functools.partial(fm.parquet_read_int32_column, col="i3")),
        ("parquet_int64_gzip", pqg_buf.getvalue(),
         functools.partial(fm.parquet_read_int64_column, col="k")),
        ("parquet_str_gzip", pqg_buf.getvalue(),
         functools.partial(fm.parquet_read_string_column, col="s")),
        ("parquet_int64_lz4", pql_buf.getvalue(),
         functools.partial(fm.parquet_read_int64_column, col="k")),
        ("parquet_str_lz4", pql_buf.getvalue(),
         functools.partial(fm.parquet_read_string_column, col="s")),
        ("parquet_int64_multirg", pqm_buf.getvalue(),
         functools.partial(fm.parquet_read_int64_column, col="k")),
        ("parquet_str_multirg", pqm_buf.getvalue(),
         functools.partial(fm.parquet_read_string_column, col="s")),
        ("parquet_int64_gzip_v2", pqg2_buf.getvalue(),
         functools.partial(fm.parquet_read_int64_column, col="k")),
        ("parquet_str_gzip_v2", pqg2_buf.getvalue(),
         functools.partial(fm.parquet_read_string_column, col="s")),
        ("orc_footer", orc_buf.getvalue(), fm.orc_footer_meta),
        ("png", mm.synth_png(px3), mm.decode_png_pixels),
        ("bmp", mm.synth_bmp(px3), mm.decode_bmp_pixels),
        ("gif", mm.synth_gif(idx, pal), mm.decode_gif_pixels),
        ("tiff_le", mm.synth_tiff(px3), mm.decode_tiff_pixels),
        ("tiff_be", mm.synth_tiff(px3, big_endian=True),
         mm.decode_tiff_pixels),
        ("tiff_pb", mm.synth_tiff(px3, packbits=True),
         mm.decode_tiff_pixels),
        ("wav16", mm.synth_wav_pcm16(s16, 8000), mm.decode_wav_pcm),
        ("wav_g711", mm.synth_wav_g711(s16, "ulaw", 8000),
         mm.decode_wav_pcm),
        ("wav_ima", mm.synth_wav_ima(s16, 8000), mm.decode_wav_pcm),
        ("flac", mm.synth_flac(s16, 8000), mm.decode_flac),
        ("flac_st", mm.synth_flac_stereo(s16, -s16, 8000),
         mm.decode_flac),
        ("avi", mm.synth_avi(fr, fps=4), mm.decode_avi_frames),
        ("mp4", mm.synth_mp4(fr, fps=5), mm.decode_mp4_frames),
        ("warc", fm.synth_warc(
            [{"warc_type": "response", "uri": "http://a/x",
              "block": http},
             {"warc_type": "request", "uri": "http://a/y",
              "block": b""}]), fm.parse_warc),
        ("tar", fm.synth_tar([("a.txt", b"alpha"),
                              ("b" * 96 + ".txt", b"beta!")]),
         fm.parse_tar),
        ("tar_gnu_pax", fm.synth_tar([       # override + skip branches
            ("././@LongLink", ("L" * 120 + ".txt").encode() + b"\x00",
             "L"),
            ("L" * 99, b"long-named body"),
            ("adir/", b"", "5"),
            ("PaxHeaders/nxt", b"20 path=pax/nxt.txt\n", "x"),
            ("nxt", b"pax-named body"),
        ]), fm.parse_tar),
        ("zip", fm.synth_zip([("a.txt", b"alpha"),
                              ("bb.bin", bytes(range(48)))]),
         fm.parse_zip),
        ("tfrecord", fm.synth_tfrecord([b"rec1", b"record-two", b""]),
         fm.parse_tfrecord),
        ("avro", fm.synth_avro_pairs(
            [(1, "one"), (2, "two"), (3, "three")]),
         fm.parse_avro_pairs),
        ("avro_defl", fm.synth_avro_pairs(
            [(1, "one"), (2, "two"), (3, "three")], deflate=True),
         fm.parse_avro_pairs),
        ("lz4", fm.synth_lz4_frame(
            [(b"hello world hello world", True), (b"stored", False)]),
         fm.lz4_frame_walk),
        ("pdf", fm.synth_pdf(["Page one text", "Second page"]),
         fm.pdf_page_texts),
        ("pdf_raw", fm.synth_pdf(["Page one text", "Second page"],
                                 compress=False), fm.pdf_page_texts),
    ]
    import gzip as _gzip
    targets.append(
        ("gzip", _gzip.compress(b"first member text", mtime=0)
         + _gzip.compress(b"second-member-bytes" * 3, mtime=0),
         fm.split_gzip_members))
    return targets


def test_parser_escape_and_hang_sweep_exhaustive():
    """Cross-format exception-contract sweep (r12): for EVERY pure-
    bytes parser with a synth twin, exhaustively flip every (byte,
    bit) of a representative payload and assert the decode either
    succeeds or raises ValueError/NotImplementedError — never an
    escape exception (IndexError/KeyError/OverflowError/zlib.error)
    and never a hang (2 s watchdog per decode). Complements the
    per-format behavior properties: those assert WHAT corrupt inputs
    produce; this pins the failure CHANNEL itself, which is what an
    Arrow mapInPandas stage propagates to the engine's error surface.

    This sweep found (and its fixes pinned): IMA step-index seed
    IndexError, MP4 stsc/stco/stsz count memory-CPU bombs, Avro
    negative-varint-length INFINITE LOOP + truncated-varint
    IndexError, zlib.error leaks in ZIP/PDF/ORC/Avro-deflate (r12),
    and the thrift/protobuf walker escapes + RLE/bit-packed
    allocation bombs behind parquet_footer_meta /
    parquet_read_int64_column / orc_footer_meta (r13, the round the
    lakehouse walkers joined the sweep)."""
    import signal

    class _Hang(Exception):
        pass

    def _alarm(_sig, _frm):
        raise _Hang()

    old = signal.signal(signal.SIGALRM, _alarm)
    problems = []
    try:
        for name, blob, dec in _sweep_targets():
            dec(blob)                     # baseline must parse
            for pos in range(len(blob)):
                for bit in range(8):
                    mut = bytearray(blob)
                    mut[pos] ^= 1 << bit
                    signal.setitimer(signal.ITIMER_REAL, 2.0)
                    try:
                        dec(bytes(mut))
                    except (ValueError, NotImplementedError):
                        pass
                    except _Hang:
                        problems.append((name, pos, bit, "HANG"))
                    except Exception as exc:  # noqa: BLE001
                        problems.append(
                            (name, pos, bit, type(exc).__name__))
                    finally:
                        signal.setitimer(signal.ITIMER_REAL, 0)
    finally:
        signal.signal(signal.SIGALRM, old)
    assert not problems, problems[:20]


@settings(**SETTINGS)
@given(nrows=st.integers(1, 300), flip=st.integers(0, 2 ** 30),
       bit=st.integers(0, 7))
def test_parquet_page_crc_no_silent_wrong_values(nrows, flip, bit):
    """Parquet's page-level integrity word, scoped like the FLAC/TAR
    flip properties to what the format protects: in a file written
    WITH page checksums (pyarrow write_page_checksum), a bit flip
    anywhere inside a column chunk must either raise or leave the
    decoded values IDENTICAL (a thrift header flip can at most make
    the crc field invisible — the data bytes are unchanged) — never
    a clean decode of different values. The footer carries no CRC
    (format-inherent), so footer flips are out of scope, exactly as
    STREAMINFO is for FLAC."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from memory_engine_spark.sources import formats as fm

    table = pa.table({"k": pa.array(
        [(i * 2654435761 + 11) % 100003 for i in range(nrows)],
        type=pa.int64())})
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy",
                   write_page_checksum=True)
    blob = buf.getvalue()
    base = fm.parquet_read_int64_column(blob, "k")
    assert base == table["k"].to_pylist()

    meta = fm._parquet_filemeta_ranged(
        lambda o, ln: blob[o:o + ln], len(blob))
    cm = meta[4][0][1][0][3]
    start = cm.get(9, 0)
    if cm.get(11):
        start = min(start, cm[11])
    total = cm[7]
    pos = start + (flip % total)        # flip INSIDE the chunk only
    mut = bytearray(blob)
    mut[pos] ^= 1 << bit
    try:
        got = fm.parquet_read_int64_column(bytes(mut), "k")
    except (ValueError, NotImplementedError):
        return                           # loud-fail: the CRC worked
    assert got == base, "flipped checksummed page decoded to " \
                        "DIFFERENT values without raising"


@settings(**SETTINGS)
@given(nrows=st.integers(1, 300), flip=st.integers(0, 2 ** 30),
       bit=st.integers(0, 7))
def test_parquet_page_crc_no_silent_wrong_strings(nrows, flip, bit):
    """BYTE_ARRAY twin of the page-CRC integrity property (r14,
    q244's machinery): string values ride a DIFFERENT framing —
    length prefixes that a flipped byte can silently re-segment —
    so the checksummed-chunk guarantee is re-proven for it: a flip
    inside the chunk either raises or decodes IDENTICAL strings."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from memory_engine_spark.sources import formats as fm

    table = pa.table({"s": pa.array(
        [f"v{(i * 2654435761 + 11) % 997}-{'x' * (i % 7)}"
         for i in range(nrows)], type=pa.string())})
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy",
                   write_page_checksum=True)
    blob = buf.getvalue()
    base = fm.parquet_read_string_column(blob, "s")
    assert base == table["s"].to_pylist()

    meta = fm._parquet_filemeta_ranged(
        lambda o, ln: blob[o:o + ln], len(blob))
    cm = meta[4][0][1][0][3]
    start = cm.get(9, 0)
    if cm.get(11):
        start = min(start, cm[11])
    total = cm[7]
    pos = start + (flip % total)        # flip INSIDE the chunk only
    mut = bytearray(blob)
    mut[pos] ^= 1 << bit
    try:
        got = fm.parquet_read_string_column(bytes(mut), "s")
    except (ValueError, NotImplementedError):
        return                           # loud-fail: the CRC worked
    assert got == base, "flipped checksummed page decoded to " \
                        "DIFFERENT strings without raising"


@settings(**SETTINGS)
@given(tail_hint=st.integers(16, 70000), nrows=st.integers(1, 400))
def test_footer_ranged_readers_hint_invariant(tail_hint, nrows):
    """The tail_hint is a pure I/O knob: for ANY hint (smaller than
    the footer → exact-retry path; larger → single-slice path) the
    ranged readers must return byte-identical results to the
    whole-bytes parsers. Probes the retry boundary arithmetic the
    counting-seam test only samples at two hints."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import orc as paorc

    from memory_engine_spark.sources import formats as fm

    table = pa.table({
        "k": pa.array(range(nrows), type=pa.int64()),
        "s": pa.array([f"s{i}" for i in range(nrows)])})
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    blob = buf.getvalue()

    def read_at(off, ln):
        assert 0 <= off and off + ln <= len(blob)   # in-bounds reads only
        return blob[off:off + ln]

    full = fm.parquet_footer_meta(blob)
    assert fm._parquet_meta_dict(fm._parquet_filemeta_ranged(
        read_at, len(blob), tail_hint)) == full
    assert fm._parquet_read_int64_ranged(
        read_at, len(blob), "k", tail_hint) \
        == fm.parquet_read_int64_column(blob, "k") \
        == list(range(nrows))
    assert fm._parquet_read_column_ranged(
        read_at, len(blob), "s", tail_hint, ptype=6) \
        == fm.parquet_read_string_column(blob, "s") \
        == [f"s{i}" for i in range(nrows)]

    obuf = io.BytesIO()
    paorc.write_table(table, obuf, compression="zlib")
    oblob = obuf.getvalue()

    def oread_at(off, ln):
        assert 0 <= off and off + ln <= len(oblob)
        return oblob[off:off + ln]

    assert fm._orc_footer_meta_ranged(oread_at, len(oblob), tail_hint) \
        == fm.orc_footer_meta(oblob)


def test_sweep_list_covers_parser_registry():
    """r12 verdict item 4, the sweep-as-gate: every module-level
    pure-bytes parser in formats/multimodal (identified by its first
    parameter being annotated ``bytes`` — the registry convention)
    must either appear in ``_sweep_targets()`` or carry a stated
    exemption below. A parser added without a sweep entry fails
    HERE, in the same commit, not in a later review."""
    import inspect

    from memory_engine_spark.operators import multimodal as mm
    from memory_engine_spark.sources import formats as fm

    EXEMPT = {
        # magic-byte dispatchers over decoders that are each swept
        # individually; the dispatch itself is a table lookup
        "multimodal.decode_image": "dispatcher over swept decoders",
        "multimodal.decode_pixels": "dispatcher over swept decoders",
        "multimodal.decode_audio": "dispatcher over swept decoders",
        # swept by their own dedicated flip tests (exhaustive gray,
        # sampled color — the color payload is too large to flip
        # exhaustively in CI)
        "multimodal.decode_jpeg_gray":
            "test_jpeg_flip_anywhere_exhaustive_gray",
        "multimodal.decode_jpeg_color":
            "test_jpeg_fuzz_flip_anywhere_color",
        # per-block inner decoder; every flip of a wav_ima sweep
        # payload reaches it through decode_wav_pcm
        "multimodal.ima_adpcm_decode":
            "covered via the wav_ima sweep target",
        # thin wrapper: decode_wav_pcm (swept) + numpy windowing
        "multimodal.wav_window_energy":
            "wrapper over swept decode_wav_pcm",
        # total functions: no parse to escape from
        "multimodal.ogg_crc": "pure CRC arithmetic, total on bytes",
        "formats.sniff_text_encoding":
            "total best-guess labeler; never raises by contract",
        # deterministic stand-ins (documented fakes, no real parse)
        "multimodal.fake_decode_image": "deterministic stub",
        "multimodal.fake_decode_audio": "deterministic stub",
    }
    swept = set()
    for _name, _blob, dec in _sweep_targets():
        fn = getattr(dec, "func", dec)       # unwrap functools.partial
        swept.add(f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}")

    registry, missing = [], []
    for mod in (fm, mm):
        short = mod.__name__.rsplit(".", 1)[-1]
        for name, obj in sorted(vars(mod).items()):
            if not (inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__):
                continue
            if name.startswith("_") or name.startswith("synth_"):
                continue
            params = list(inspect.signature(obj).parameters.values())
            if not params:
                continue
            if str(params[0].annotation).strip("'\"") != "bytes":
                continue
            key = f"{short}.{name}"
            registry.append(key)
            if key not in swept and key not in EXEMPT:
                missing.append(key)
    assert len(registry) >= 30       # the gate must keep seeing them
    # stale exemptions rot the gate: every exempt name must exist
    assert not set(EXEMPT) - set(registry), set(EXEMPT) - set(registry)
    assert not missing, (
        f"pure-bytes parsers not covered by the exhaustive sweep: "
        f"{missing} — add a _sweep_targets() entry (synth twin + "
        f"decoder) in the same commit as the parser")


def test_probe_one_never_raises_flip_anywhere():
    """The metadata sniffer's contract is stronger than the decoders':
    `_probe_one` must NEVER raise on corrupt bytes — it degrades to
    format-only or all-None fields (its TIFF branch already wraps the
    IFD walk for exactly this reason). Exhaustive (byte, bit) sweep
    over every sniffable format family, including the mp3 header
    branch the decoders deliberately stub."""
    import numpy as np

    from memory_engine_spark.operators import multimodal as mm

    px3 = (((np.arange(5 * 7 * 3, dtype=np.uint32) * 59 + 11) % 249)
           .astype(np.uint8).reshape(5, 7, 3))
    idx = (np.arange(36, dtype=np.uint32) * 7 % 5).astype(np.uint8) \
        .reshape(6, 6)
    pal = (((np.arange(24, dtype=np.uint32) * 37 + 3) % 251)
           .astype(np.uint8).reshape(8, 3))
    s16 = ((((np.arange(25, dtype=np.int64) * 2654435761 + 9) % 65521)
            - 32760).astype(np.int16))
    fr = (((np.arange(2 * 4 * 4 * 3, dtype=np.uint32) * 31 + 5) % 251)
          .astype(np.uint8).reshape(2, 4, 4, 3))
    vorbis_id = (b"\x01vorbis" + bytes(4) + bytes([2])
                 + (8000).to_bytes(4, "little") + bytes(13))
    payloads = [
        mm.synth_png(px3), mm.synth_bmp(px3), mm.synth_gif(idx, pal),
        mm.synth_tiff(px3), mm.synth_tiff(px3, big_endian=True),
        mm.synth_wav_pcm16(s16, 8000),
        mm.synth_jpeg_gray([[8, 0, 0] + [0] * 61], 8, 8),
        mm.synth_ogg([vorbis_id, b"datadata"], 7, [0, 800]),
        mm.synth_avi(fr, fps=4), mm.synth_mp4(fr, fps=5),
        mm.synth_flac(s16, 8000),
        b"\xff\xfb\x90\x00" + bytes(200),     # bare MPEG frame header
    ]
    for blob in payloads:
        mm._probe_one(blob)
        for pos in range(len(blob)):
            for bit in range(8):
                mut = bytearray(blob)
                mut[pos] ^= 1 << bit
                out = mm._probe_one(bytes(mut))   # must not raise
                assert isinstance(out, dict)
