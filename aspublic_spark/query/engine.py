"""BM25 query engine over the packed inverted index.

Executes the reference's whole search surface (viewer.py
``/api/unstable/search`` -> db_sqlite.search, db_sqlite.py:62-144)
through ONE evaluator. Every query — single term, AND (Q2), NOT (Q3),
phrase (Q4), OR groups (Q5, websearch backend), NEAR, ``^`` anchors,
column filters, prefixes and raw-FTS5 boolean trees — compiles on the
driver to a per-doc mask program (presence leaves per (term or virtual
``stem*`` term, field set); phrase / anchor / NEAR / prefix-phrase
window leaves; and / or / not nodes). The query terms' PACKED blocks
are repartitioned by ``slice`` (the doc-hash partition of the index,
so every term's postings for one doc land in the same task), and one
``mapInArrow`` pass decodes them, scores Okapi BM25 k1=1.2 b=0.75
(Q11, the latent capability of the FTS5 index the reference builds)
and evaluates the program; see :func:`_fused_score_factory`.

- tri-state role/tool, time range, conv_id prefix -> pushed-down
  structured predicates on the docs table (Q6-Q8)
- index->row join           -> final join of scored doc ids back to
  docs / source table (Q9)
- top-k                     -> TakeOrderedAndProject via
  orderBy(...).limit(k), by BM25 (score desc, key asc — deterministic
  tie-break, stricter than the reference's scan-order ties) or by
  recency like the reference default (Q10, db_sqlite.py:131)

plus block-max pruning (north_rule): packed blocks carry
(min_doc, max_doc, max_tf, min_dl); the engine reads block
METADATA first (Parquet column pruning — the varint payloads are not
touched), computes each block's score upper bound AT QUERY TIME from
(max_tf, min_dl) under the current per-field avgdl (safe under
cross-generation avgdl drift — a pack-time bound would go stale),
establishes a score threshold from a cheap partial pass, and
drops blocks that provably cannot contribute a top-k document, plus
doc-range intersection pruning for AND queries. Both prunes are
lossless: results are identical to the exhaustive plan (tested).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aspublic_spark import BM25_B, BM25_K1
from aspublic_spark.index import codec
from aspublic_spark.index.build import (
    dictionary_location,
    live_gen_paths,
    read_stats,
)
from aspublic_spark.index.fsio import fs_for
from aspublic_spark.query.parser import Node, ParsedQuery, parse_query

_UNPACK_SCHEMA = "term string, fld int, doc_id long, tf int, dl int"
_UNPACK_POS_SCHEMA = _UNPACK_SCHEMA + ", positions array<int>"

# scoring-map keys are "term\x00fld" strings (NUL never survives the
# FTS5 tokenizer, so the concatenation is unambiguous)
def _tf_key(term: str, fld: int) -> str:
    return f"{term}\x00{fld}"


def _tf_key_col():
    return F.concat_ws("\x00", F.col("term"), F.col("fld").cast("string"))


def _decode_blocks_batch(batch, with_positions: bool):
    """Vectorized decode of one Arrow batch of packed block rows.

    Returns ``None`` for an empty batch, else a dict with per-POSTING
    arrays: ``blk`` (block ordinal of each posting), ``doc_id`` (int64),
    ``tf``/``dl`` (int64) and, when requested, ``pos`` (flat int64
    absolute positions; posting k owns ``pos[pstart[k]:pstart[k]+tf[k]]``
    with ``pstart`` the exclusive cumsum of ``tf``). Every varint
    column decodes in ONE pass over the batch's concatenated payloads
    (varints are self-delimiting and Arrow binary storage is adjacent),
    replacing the per-block Python loop that dominated the old unpack."""
    import pyarrow as pa

    nb = batch.num_rows
    if nb == 0:
        return None
    n_np = batch.column("n").to_numpy(zero_copy_only=False).astype(np.int64)
    total = int(n_np.sum())
    if total == 0:
        return None
    starts = np.zeros(nb, dtype=np.int64)
    np.cumsum(n_np[:-1], out=starts[1:])
    blk_of_post = np.repeat(np.arange(nb, dtype=np.int64), n_np)

    def _concat_bytes(name):
        col = batch.column(name)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        voff = np.frombuffer(col.buffers()[1], dtype=np.int32)[
            col.offset : col.offset + len(col) + 1
        ].astype(np.int64)
        dbuf = col.buffers()[2]
        data = (
            np.frombuffer(dbuf, dtype=np.uint8)
            if dbuf is not None
            else np.empty(0, dtype=np.uint8)
        )
        return data[voff[0] : voff[-1]]

    enc = codec.decode_varints(_concat_bytes("doc_gaps").tobytes())
    firsts = codec._unzigzag(enc[starts]).view(np.uint64)
    enc[starts] = firsts
    csum = np.cumsum(enc, dtype=np.uint64)
    base = csum[starts] - enc[starts]
    doc_ids = (csum - np.repeat(base, n_np)).view(np.int64)

    tfs = codec.decode_varints(_concat_bytes("tfs").tobytes()).astype(np.int64)
    dls = codec.decode_varints(_concat_bytes("dls").tobytes()).astype(np.int64)
    out = {"blk": blk_of_post, "doc_id": doc_ids, "tf": tfs, "dl": dls}

    if with_positions:
        flat = codec.decode_varints(_concat_bytes("positions").tobytes()).astype(
            np.int64
        )
        # record k is [n=tf_k, first, deltas...]: drop the headers, then
        # grouped cumsum turns deltas into absolute positions
        lens = tfs + 1
        hstart = np.zeros(lens.size, dtype=np.int64)
        np.cumsum(lens[:-1], out=hstart[1:])
        keep = np.ones(flat.size, dtype=bool)
        keep[hstart] = False
        vals = flat[keep]
        c = np.cumsum(vals)
        vstart = np.zeros(tfs.size, dtype=np.int64)
        np.cumsum(tfs[:-1], out=vstart[1:])
        pbase = np.where(vstart > 0, c[vstart - 1], 0)
        out["pos"] = c - np.repeat(pbase, tfs)
    return out


def _unpack_arrow_factory(with_positions: bool):
    """mapInArrow fn: packed block rows -> per-posting rows
    (_UNPACK_SCHEMA). Fully vectorized via :func:`_decode_blocks_batch`."""
    import pyarrow as pa

    def unpack(batches):
        for batch in batches:
            d = _decode_blocks_batch(batch, with_positions)
            if d is None:
                continue
            blk = d["blk"]
            term_col = batch.column("term")
            if isinstance(term_col, pa.ChunkedArray):
                term_col = term_col.combine_chunks()
            fld_np = batch.column("fld").to_numpy(zero_copy_only=False).astype(np.int32)
            cols = [
                term_col.take(pa.array(blk)),
                pa.array(fld_np[blk], type=pa.int32()),
                pa.array(d["doc_id"], type=pa.int64()),
                pa.array(d["tf"].astype(np.int32), type=pa.int32()),
                pa.array(d["dl"].astype(np.int32), type=pa.int32()),
            ]
            names = ["term", "fld", "doc_id", "tf", "dl"]
            if with_positions:
                offs = np.zeros(d["tf"].size + 1, dtype=np.int32)
                np.cumsum(d["tf"], out=offs[1:])
                cols.append(
                    pa.ListArray.from_arrays(
                        pa.array(offs, type=pa.int32()),
                        pa.array(d["pos"].astype(np.int32), type=pa.int32()),
                    )
                )
                names.append("positions")
            yield pa.record_batch(cols, names=names)

    return unpack


# -- the evaluator: one mask program per query ---------------------------
# A program is nested tuples (pure picklable data). Leaves read the
# partition's rows; ``flds`` is a sorted field-ordinal tuple, or None for
# every field; ``neg`` selects the NOT-side rows (blocks tagged ``_neg``):
#   ("has", label, flds, neg)            label has a posting in flds
#   ("phrase", slots, flds, neg, anchored)
#   ("near", ops, flds, neg, span)       ops = tuple of slot tuples
# A slot is a tuple of member terms (an expanded prefix: ANY member fills
# it); a label is a term or a virtual prefix term ``stem*``. Nodes:
#   ("and", *kids) ("or", *kids) ("not", left, right) ("unot", kid)
#   ("true",) ("false",)
_BOOL_KINDS = ("and", "or", "not", "unot")


def _and(*kids) -> tuple:
    return kids[0] if len(kids) == 1 else ("and", *kids) if kids else ("true",)


def _or(*kids) -> tuple:
    return kids[0] if len(kids) == 1 else ("or", *kids) if kids else ("false",)


def _prog_leaves(node: tuple):
    if node[0] in _BOOL_KINDS:
        for kid in node[1:]:
            yield from _prog_leaves(kid)
    elif node[0] not in ("true", "false"):
        yield node


def _window_terms(leaf: tuple) -> set:
    slots = leaf[1] if leaf[0] == "phrase" else [sl for op in leaf[1] for sl in op]
    return {t for sl in slots for t in sl}


def _live_slots(cat: dict, slots) -> list | None:
    """Slots restricted to members present in the catalog; None when a
    slot has no member here (the window cannot match)."""
    out = []
    for sl in slots:
        members = [t for t in sl if t in cat]
        if not members:
            return None
        out.append(members)
    return out


def _slot_keys(cat: dict, alldocs: np.ndarray, members: list, off: int) -> np.ndarray:
    """Sorted unique packed occurrence keys of a slot's member terms:
    doc ordinal (in ``alldocs``) << 32 | fld << 24 | (pos - off). The
    offset aligns slot ``off`` of a window with its first token, so a
    phrase match is an intersection of its slots' key sets."""
    parts = []
    for t in members:
        d, f, p = cat[t]
        ok = p >= off
        o = np.searchsorted(alldocs, d[ok])
        parts.append((o << 32) | (f[ok] << 24) | (p[ok] - off))
    return np.unique(np.concatenate(parts))


def _catalog_docs(cat: dict, live: list) -> np.ndarray:
    return np.unique(
        np.concatenate([cat[t][0] for t in sorted({t for m in live for t in m})])
    )


def _near_set_from_cat(cat: dict, uniq: tuple, span: int) -> np.ndarray:
    """Docs matching FTS5 ``NEAR(p1 .. pk, n)`` (``span`` = n + 1) over
    an occurrence catalog (term -> (docs, flds, positions)) of
    slice-complete rows, so the partition-local result is exact.

    Semantics pinned by randomized live-FTS5 differentials: ONE
    occurrence of each DISTINCT operand phrase (``uniq`` is already
    deduplicated — NEAR(a a, 0) matches a lone 'a') can be chosen within
    a single field such that max(start) - min(end) <= n + 1 over the
    chosen intervals [start, end]; matching never spans columns.

    Every operand occurrence's END key is a candidate for min(end): at
    anchor e, operand i (length L) matches iff it has a start in
    [e - L + 1, e + n + 1] within the same (doc, fld) group — one
    searchsorted per operand, no per-occurrence Python. The lower bound
    clamps to the group base; overflow past the upper bound into the
    next field is rejected by the explicit group-equality check."""
    empty = np.empty(0, dtype=np.int64)
    live_ops = []
    for op in uniq:
        live = _live_slots(cat, op)
        if live is None:
            return empty
        live_ops.append(live)
    alldocs = _catalog_docs(cat, [m for op in live_ops for m in op])
    starts = []
    for op in live_ops:
        ks = _slot_keys(cat, alldocs, op[0], 0)
        for off in range(1, len(op)):
            if ks.size == 0:
                break
            ks = np.intersect1d(
                ks, _slot_keys(cat, alldocs, op[off], off), assume_unique=True
            )
        if ks.size == 0:
            return empty
        starts.append(ks)
    anchors = np.unique(
        np.concatenate([ks + (len(op) - 1) for ks, op in zip(starts, live_ops)])
    )
    ok = np.ones(anchors.size, dtype=bool)
    grp = anchors >> 24  # (doc ordinal, fld)
    base = grp << 24
    for ks, op in zip(starts, live_ops):
        lo = np.maximum(anchors - (len(op) - 1), base)
        idx = np.searchsorted(ks, lo)
        hit = idx < ks.size
        v = ks[np.minimum(idx, ks.size - 1)]
        ok &= hit & (v <= anchors + span) & ((v >> 24) == grp)
    return alldocs[np.unique(anchors[ok] >> 32)] if ok.any() else empty


def _phrase_set_from_cat(cat: dict, slots: tuple, anchored: bool) -> np.ndarray:
    """Docs where the phrase occurs adjacently within a single field,
    over an occurrence catalog of slice-complete rows (a doc's rows for
    every term share its slice = hash(doc_id), so the partition-local
    match is exact). ``anchored``: FTS5 ``^`` — the window must start
    its column (position 0 of any field)."""
    empty = np.empty(0, dtype=np.int64)
    live = _live_slots(cat, slots)
    if live is None:
        return empty
    alldocs = _catalog_docs(cat, live)
    ks = sorted(
        (_slot_keys(cat, alldocs, m, off) for off, m in enumerate(live)),
        key=lambda a: a.size,
    )
    cur = ks[0]
    for nxt in ks[1:]:
        if cur.size == 0:
            break
        cur = np.intersect1d(cur, nxt, assume_unique=True)
    if anchored and cur.size:
        # the key's low 24 bits are the window's first-token position
        cur = cur[(cur & 0xFFFFFF) == 0]
    return alldocs[np.unique(cur >> 32)] if cur.size else empty


def _fused_score_factory(spec: dict):
    """mapInArrow fn — the engine's one evaluator. Over partitions of
    PACKED blocks that each hold complete doc-hash slices (or, for a
    program reading a single (term, field), any split: every doc then
    has one posting), it decodes, scores, and evaluates the query's
    mask program in ONE Python pass, emitting the qualified
    ``(doc_id, score)`` candidates. ``slice = hash(doc_id)`` co-locates
    every term's postings for one doc, so the partition-local result is
    exact.

    Candidates are the docs holding a scoring row: a positive row whose
    (label, fld) has an entry in ``scaled`` (field weight x idf; 0.0
    for rows scanned only for presence). Virtual prefix rows are
    synthesized first: for each ``virtual`` label ``stem*`` -> (terms,
    flds), one posting per (doc, fld) with tf summed over the stem's
    expansion — FTS5's bm25 counts a prefix as one phrase.

    Scores are summed in CANONICAL (label, fld, w) order, sequentially
    (the j-th item of every doc's sorted run is added in iteration j —
    never a pairwise numpy reduction), so they do not depend on
    partitioning; the weight uses the same elementwise double ops in
    the same association order as ``bm25_weight_col``.

    ``spec`` is pure picklable data: prog, need_pos, scaled
    {(label, fld): w}, avgdl {fld: a}, virtual {label: (terms, flds)}.
    Theta pruning drops positive blocks only, so NOT-side presence is
    always complete."""
    import pyarrow as pa

    k1p1 = BM25_K1 + 1.0
    prog = spec["prog"]
    leaves = list(_prog_leaves(prog))
    has_labels = {lf[1] for lf in leaves if lf[0] == "has"}
    win_terms = {
        neg: sorted(
            {t for lf in leaves if lf[0] != "has" and lf[3] == neg for t in _window_terms(lf)}
        )
        for neg in (False, True)
    }

    def run(batches):
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list).combine_chunks()
        if tbl.num_rows == 0:
            return
        rb = tbl.to_batches()[0]
        d = _decode_blocks_batch(rb, spec["need_pos"])
        if d is None:
            return
        blk = d["blk"]
        de = rb.column("term").dictionary_encode()
        codes_b = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        labels = de.dictionary.to_pylist()
        fld_b = rb.column("fld").to_numpy(zero_copy_only=False).astype(np.int64)
        neg_b = rb.column("_neg").to_numpy(zero_copy_only=False).astype(bool)
        # real rows (positions align with these) ...
        real_code, real_fld, real_neg = codes_b[blk], fld_b[blk], neg_b[blk]
        real_doc, real_tf = d["doc_id"], d["tf"]
        code_of = {t: i for i, t in enumerate(labels)}

        # ... plus one virtual "stem*" row per (doc, fld) of each stem
        cols = [[real_code], [real_fld], [real_doc], [real_tf], [d["dl"]]]
        for label, (terms, flds) in spec["virtual"].items():
            cs = [code_of[t] for t in terms if t in code_of]
            r = np.flatnonzero(~real_neg & np.isin(real_code, cs))
            if flds is not None:
                r = r[np.isin(real_fld[r], flds)]
            if r.size == 0:
                continue
            r = r[np.lexsort((real_fld[r], real_doc[r]))]
            vd, vf = real_doc[r], real_fld[r]
            first = np.ones(r.size, dtype=bool)
            first[1:] = (vd[1:] != vd[:-1]) | (vf[1:] != vf[:-1])
            gs = np.flatnonzero(first)
            code_of[label] = len(labels)
            labels.append(label)
            for col, v in zip(
                cols,
                (
                    np.full(gs.size, code_of[label]),
                    vf[gs],
                    vd[gs],
                    np.add.reduceat(real_tf[r], gs),
                    d["dl"][r][gs],
                ),
            ):
                col.append(v)
        code_p, fld_p, doc_p, tf_p, dl_p = (np.concatenate(c) for c in cols)
        neg_p = np.zeros(doc_p.size, dtype=bool)
        neg_p[: real_neg.size] = real_neg
        n_codes = len(labels)
        n_fld = max(spec["avgdl"]) + 1 if spec["avgdl"] else 1

        # -- scoring rows ----------------------------------------------
        scale_lookup = np.full((max(n_codes, 1), n_fld), np.nan)
        for (t, f), v in spec["scaled"].items():
            c = code_of.get(t)
            if c is not None and f < n_fld:
                scale_lookup[c, f] = v
        avg_arr = np.ones(n_fld, dtype=np.float64)
        for f, a in spec["avgdl"].items():
            avg_arr[f] = a
        sel = ~neg_p & ~np.isnan(scale_lookup[code_p, fld_p])
        doc_s = doc_p[sel]
        if doc_s.size == 0:
            return
        tfd = tf_p[sel].astype(np.float64)
        dld = dl_p[sel].astype(np.float64)
        avg = avg_arr[fld_p[sel]]
        scale = scale_lookup[code_p[sel], fld_p[sel]]
        w = scale * (
            tfd * k1p1 / (tfd + BM25_K1 * (1.0 - BM25_B + BM25_B * dld / avg))
        )

        # -- canonical-order sequential fold per doc -------------------
        term_rank = np.empty(n_codes, dtype=np.int64)
        term_rank[np.argsort(np.asarray(labels, dtype=object))] = np.arange(n_codes)
        order = np.lexsort((w, fld_p[sel], term_rank[code_p[sel]], doc_s))
        ds, ws = doc_s[order], w[order]
        gstart = np.empty(ds.size, dtype=bool)
        gstart[0] = True
        gstart[1:] = ds[1:] != ds[:-1]
        gs = np.flatnonzero(gstart)
        gid = np.cumsum(gstart) - 1
        idx_in_g = np.arange(ds.size, dtype=np.int64) - gs[gid]
        docs_u = ds[gs]
        score = np.zeros(docs_u.size, dtype=np.float64)
        for j in range(int(idx_in_g.max()) + 1):
            m = idx_in_g == j
            score[gid[m]] = score[gid[m]] + ws[m]

        # -- presence: scoring rows already sit in the fold's doc groups
        # (a compare + scatter through ``gid``); the remaining rows that
        # a "has" leaf reads (NOT side, unscored fields) are located in
        # docs_u with ONE shared searchsorted
        code_sorted = code_p[sel][order]
        fld_sorted = fld_p[sel][order]
        rest_idx = np.flatnonzero(
            ~sel & np.isin(code_p, [code_of[t] for t in has_labels if t in code_of])
        )
        rest_doc = doc_p[rest_idx]
        rest_pos = np.searchsorted(docs_u, rest_doc)
        rest_hit = rest_pos < docs_u.size
        rest_pos = np.where(rest_hit, rest_pos, 0)
        rest_hit &= docs_u[rest_pos] == rest_doc
        rest_code, rest_fld, rest_neg = (
            code_p[rest_idx], fld_p[rest_idx], neg_p[rest_idx]
        )

        def present(label: str, flds, neg: bool) -> np.ndarray:
            m = np.zeros(docs_u.size, dtype=bool)
            c = code_of.get(label)
            if c is None:
                return m
            if not neg:
                hit = code_sorted == c
                if flds is not None:
                    hit &= np.isin(fld_sorted, flds)
                m[gid[hit]] = True
            r = (rest_code == c) & (rest_neg == neg) & rest_hit
            if flds is not None:
                r &= np.isin(rest_fld, flds)
            m[rest_pos[r]] = True
            return m

        def mask_from_docs(docs_arr: np.ndarray) -> np.ndarray:
            m = np.zeros(docs_u.size, dtype=bool)
            if docs_arr.size:
                ii = np.searchsorted(docs_u, docs_arr)
                inb = ii < docs_u.size
                ii, da = ii[inb], docs_arr[inb]
                m[ii[docs_u[ii] == da]] = True
            return m

        # -- occurrence catalogs for window leaves, per (side, flds) ---
        cats: dict = {}

        def catalog(neg: bool, flds) -> dict:
            if (neg, flds) in cats:
                return cats[(neg, flds)]
            if flds is not None:
                base = catalog(neg, None)
                cat = {}
                for t, arrs in base.items():
                    keep = np.isin(arrs[1], flds)
                    if keep.any():
                        cat[t] = tuple(a[keep] for a in arrs)
                cats[(neg, flds)] = cat
                return cat
            pos_flat = d["pos"]
            pstart = np.zeros(real_tf.size, dtype=np.int64)
            np.cumsum(real_tf[:-1], out=pstart[1:])
            cat = {}
            for t in win_terms[neg]:
                c = code_of.get(t)
                if c is None:
                    continue
                ridx = np.flatnonzero((real_code == c) & (real_neg == neg))
                if ridx.size == 0:
                    continue
                tf_r = real_tf[ridx]
                excl = np.zeros(ridx.size, dtype=np.int64)
                np.cumsum(tf_r[:-1], out=excl[1:])
                gather = (
                    np.repeat(pstart[ridx], tf_r)
                    + np.arange(int(tf_r.sum()), dtype=np.int64)
                    - np.repeat(excl, tf_r)
                )
                pos_occ = pos_flat[gather]
                if pos_occ.size and int(pos_occ.max()) >= (1 << 24):
                    raise RuntimeError(
                        "position exceeds 2^24 (16M tokens in one field of "
                        "one doc) — positional key packing would overflow"
                    )
                cat[t] = (
                    np.repeat(real_doc[ridx], tf_r),
                    np.repeat(real_fld[ridx], tf_r),
                    pos_occ,
                )
            cats[(neg, None)] = cat
            return cat

        # -- evaluate the program --------------------------------------
        memo: dict = {}

        def ev(node: tuple) -> np.ndarray:
            kind = node[0]
            if kind == "and":
                m = np.ones(docs_u.size, dtype=bool)
                for kid in node[1:]:
                    m &= ev(kid)
                    if not m.any():
                        break
                return m
            if kind == "or":
                m = np.zeros(docs_u.size, dtype=bool)
                for kid in node[1:]:
                    m |= ev(kid)
                return m
            if kind == "not":
                return ev(node[1]) & ~ev(node[2])
            if kind == "unot":
                return ~ev(node[1])
            if kind in ("true", "false"):
                return np.full(docs_u.size, kind == "true")
            if node not in memo:
                if kind == "has":
                    memo[node] = present(node[1], node[2], node[3])
                else:
                    cat = catalog(node[3], node[2])
                    memo[node] = mask_from_docs(
                        _phrase_set_from_cat(cat, node[1], node[4])
                        if kind == "phrase"
                        else _near_set_from_cat(cat, node[1], node[4])
                    )
            return memo[node]

        ok = ev(prog)
        out_d = docs_u[ok]
        if out_d.size:
            yield pa.record_batch(
                [
                    pa.array(out_d, type=pa.int64()),
                    pa.array(score[ok], type=pa.float64()),
                ],
                names=["doc_id", "score"],
            )

    return run


# -- raw-FTS5 boolean tree helpers (generic evaluation path) ------------
def _tree_walk_leaves(node: Node, specs: tuple, scoring: bool, out: list):
    """Collect (leaf, colspec chain, scoring?) triples. A leaf under a
    NOT right operand (or our hybrid ``!``) never scores — matching the
    flat engine's treatment of NOT terms."""
    k = node.kind
    if k == "col":
        _tree_walk_leaves(node.kids[0], specs + (node.spec,), scoring, out)
    elif k in ("and", "or"):
        for c in node.kids:
            _tree_walk_leaves(c, specs, scoring, out)
    elif k == "not":
        _tree_walk_leaves(node.kids[0], specs, scoring, out)
        _tree_walk_leaves(node.kids[1], specs, False, out)
    elif k == "unot":
        _tree_walk_leaves(node.kids[0], specs, False, out)
    elif k not in ("true", "false"):
        out.append((node, specs, scoring))


def _tree_simplify(node: Node, dead_leaf) -> Node:
    """Constant-fold the tree after replacing dead leaves (terms absent
    from the corpus / empty prefix expansions) with ``false``. NOT with
    a false right side drops to its left (excluding nothing); a true
    left (from a hybrid-negated absent term) reduces to pure negation."""
    k = node.kind
    if k == "and":
        kids = [_tree_simplify(c, dead_leaf) for c in node.kids]
        if any(c.kind == "false" for c in kids):
            return Node("false")
        kids = [c for c in kids if c.kind != "true"]
        if not kids:
            return Node("true")
        return kids[0] if len(kids) == 1 else Node("and", kids=tuple(kids))
    if k == "or":
        kids = [_tree_simplify(c, dead_leaf) for c in node.kids]
        if any(c.kind == "true" for c in kids):
            return Node("true")
        kids = [c for c in kids if c.kind != "false"]
        if not kids:
            return Node("false")
        return kids[0] if len(kids) == 1 else Node("or", kids=tuple(kids))
    if k == "not":
        left = _tree_simplify(node.kids[0], dead_leaf)
        right = _tree_simplify(node.kids[1], dead_leaf)
        if left.kind == "false" or right.kind == "true":
            return Node("false")
        if right.kind == "false":
            return left
        if left.kind == "true":
            return Node("unot", kids=(right,))
        return Node("not", kids=(left, right))
    if k == "unot":
        kid = _tree_simplify(node.kids[0], dead_leaf)
        if kid.kind == "false":
            return Node("true")
        if kid.kind == "true":
            return Node("false")
        return Node("unot", kids=(kid,))
    if k in ("true", "false"):
        return node
    return Node("false") if dead_leaf(node) else node


def _tree_matches_empty_doc(node: Node) -> bool:
    """Boolean-evaluate the tree for a document containing NONE of the
    query's terms. True means the query is (partly) pure negation —
    unsatisfiable over an inverted index (FTS5 refuses ``NOT a``
    outright; this catches the hybrid spellings that smuggle it in)."""
    k = node.kind
    if k == "and":
        return all(_tree_matches_empty_doc(c) for c in node.kids)
    if k == "or":
        return any(_tree_matches_empty_doc(c) for c in node.kids)
    if k == "not":
        return _tree_matches_empty_doc(node.kids[0]) and not _tree_matches_empty_doc(
            node.kids[1]
        )
    if k == "unot":
        return not _tree_matches_empty_doc(node.kids[0])
    return k == "true"


def _leaf_terms(leaf: Node) -> tuple:
    """Flat PLAIN-token tuple of a leaf: NEAR operands are nested
    phrase tuples, and phrase/anchor/NEAR slots may be ``("*", stem)``
    prefix markers — markers are excluded here (see _leaf_stems)."""
    if leaf.kind == "near":
        return tuple(
            sl for op in leaf.toks for sl in op if isinstance(sl, str)
        )
    return tuple(sl for sl in leaf.toks if isinstance(sl, str))


def _leaf_stems(leaf: Node) -> tuple:
    """Prefix stems of a leaf: the ``stem`` field of prefix /
    prefix-phrase leaves plus any ``("*", stem)`` marker slots inside
    phrase/anchor/NEAR leaves."""
    if leaf.kind in ("prefix", "prefix_phrase"):
        return (leaf.stem,)
    if leaf.kind == "near":
        return tuple(
            sl[1] for op in leaf.toks for sl in op if isinstance(sl, tuple)
        )
    return tuple(sl[1] for sl in leaf.toks if isinstance(sl, tuple))


@dataclass
class SearchResult:
    df: DataFrame
    parsed: ParsedQuery
    pruning: dict


class SearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        prune_min_postings: int = 2_000_000,
        cache_tables: bool = False,
        auto_refresh: bool = False,
        adaptive_execution: bool = False,
        prefix_max_expansion: int = 4096,
    ):
        """``cache_tables=True`` pins docs + dictionary in executor memory
        — the right call for a long-lived query server (the reference's
        viewer process keeps its sqlite page cache warm the same way).

        ``auto_refresh=True`` probes the index manifest before every
        search (one directory listing + one pointer read — no Spark job)
        and calls :meth:`refresh` when the live-generation set or the
        dictionary pointer changed. A server following an ingest stream
        then can't serve a stale snapshot (or read part files a prune /
        compaction deleted) without the caller remembering to refresh.
        Off by default: the snapshot semantics (pin until refresh) are
        the documented contract, and two fs round-trips per query is a
        real cost on object stores.

        ``prune_min_postings``: block-max pruning runs only when the
        query's total posting volume exceeds this. Pruning spends two
        extra driver round-trips (interval collect + phase-1 probe) to
        skip posting decode; below ~2M postings the exhaustive scan is
        cheaper than the round-trips (measured 2.7x at 200k docs), while
        at Zipf-head scale (10^8+ postings) pruning is the only viable
        plan. Set 0 to force it (tests assert the pruned plan is
        result-identical to exhaustive).

        ``adaptive_execution``: queries run with AQE OFF by default, in
        a child SparkSession scoped to this engine (the caller's
        session — and the index BUILD, where AQE's skew re-planning
        earns its keep — is untouched). An interactive search has
        driver-known sizes everywhere (the dictionary bounds every
        join side, small sides carry explicit broadcast hints), so
        AQE's only observable effect is materializing each exchange as
        its own job — measured at sf0.1/local[32]: 15-30% of latency
        on EVERY query family (q_and 0.79->0.54 s, q_phrase
        1.27->0.94 s, q_single 0.39->0.28 s). Pass True to plan
        queries on the caller's session with whatever AQE setting it
        has."""
        self.spark = spark
        if not adaptive_execution:
            try:
                child = spark.newSession()
                # newSession starts from the STATIC conf: re-apply the
                # caller's runtime SQL overrides (shuffle width, session
                # timezone, ...) so only the AQE flag differs. Copy via
                # the JVM RuntimeConfig, NOT spark.sql("SET"): SET's
                # output REDACTS secret-like values (keys matching
                # spark.redaction.regex come back as a placeholder), so
                # the SET scan silently corrupted e.g. catalog or
                # object-store credentials in the child session.
                try:
                    it = spark._jsparkSession.conf().getAll().iterator()
                    while it.hasNext():
                        kv = it.next()
                        try:
                            child.conf.set(kv._1(), kv._2())
                        except Exception:
                            pass  # static/non-settable entries
                except Exception:
                    # no JVM RuntimeConfig (test doubles): fall back to
                    # the SET scan, skipping redacted placeholders
                    for row in spark.sql("SET").collect():
                        if "(redacted)" in str(row["value"]):
                            continue
                        try:
                            child.conf.set(row["key"], row["value"])
                        except Exception:
                            pass
                child.conf.set("spark.sql.adaptive.enabled", "false")
                self.spark = child
            except Exception:
                pass  # non-JVM test doubles: keep the caller's session
        self.index_dir = index_dir
        self.prune_min_postings = prune_min_postings
        # cap on block intervals materialized to the driver for range
        # pruning; denser terms are coarsened distributed first
        self.max_intervals_collect = 4096
        # broadcast the scored candidate side of the index->row join
        # when the query's total dictionary df is at most this many
        # postings (small enough to hash-broadcast; Zipf-head queries
        # fall back to the shuffle join)
        self.broadcast_cand_max_postings = 1_000_000
        self._cache = cache_tables
        self._docs_df = None
        self._dict_df = None
        self._blocks_df = None
        # driver-side (term, fld)->dictionary-row cache: repeat query
        # terms skip the dictionary lookup JOB entirely (the full
        # dictionary can be 10^8 terms — never materialized; only terms
        # actually queried are cached, negative lookups included)
        self._term_cache: dict[str, dict[int, dict]] = {}
        self._term_cache_max = 1_000_000
        # driver-side stem -> {term: {fld: dictionary row}} cache for
        # prefix queries (FTS5 `ab*`); bounded by the expansion cap —
        # FTS5 itself has no cap (it walks the term btree), but the
        # expansion becomes driver state (an In-filter + the branch's
        # term list), so an unbounded head stem like `t*` must fail
        # loudly rather than OOM the driver. Lengthen the stem instead.
        self.prefix_max_expansion = prefix_max_expansion
        self._prefix_cache: dict[str, dict[str, dict[int, dict]]] = {}
        # bound the prefix cache like _term_cache: counted in cached
        # expansion ROWS (a stem may hold up to prefix_max_expansion
        # terms x n_fields rows), cleared wholesale when exceeded so a
        # long-lived server with high-cardinality prefix traffic cannot
        # grow driver memory without limit
        self._prefix_cache_max_rows = 1_000_000
        # same filesystem seam as the builder: plain paths -> LocalFS,
        # URIs (hdfs://, s3a://, ...) -> the Hadoop client
        self.fs = fs_for(index_dir, spark)
        meta = self.fs.read_json(os.path.join(index_dir, "index_meta.json"))
        self.key_cols: list[str] = meta["key_cols"]
        self.meta_cols: list[str] = meta["meta_cols"]
        self.store_positions: bool = meta["store_positions"]
        self.block_size: int = meta.get("block_size", 128)
        self.n_slices: int = int(meta.get("n_slices") or 8)
        self.text_cols: list[str] = meta.get("text_cols", [meta.get("text_col", "text")])
        self.n_fields = len(self.text_cols)
        # query-side analyzer always mirrors the index-side one
        from aspublic_spark.functions.stemmer import get_analyzer

        self.analyzer: str = meta.get("analyzer", "fts5")
        self._tok = get_analyzer(self.analyzer)
        st_rows = read_stats(index_dir, self.fs)
        self.n_docs = int(st_rows[0]["n_docs"])
        # per-field average length (FTS5 per-column norms); fields with
        # no postings anywhere fall back to 1.0
        self.avgdl_by_fld = {
            int(r["fld"]): float(r["avgdl"] or 1.0) for r in st_rows
        }
        self.avgdl = self.avgdl_by_fld.get(0, 1.0)
        self.auto_refresh = auto_refresh
        self._snap_fp = self._manifest_fingerprint()

    # -- raw table access ---------------------------------------------
    def _manifest_fingerprint(self) -> tuple:
        """Cheap identity of the visible index state: the live-gen set
        plus the dictionary pointer. Changes on build/compact/prune —
        everything that should invalidate the snapshot — and costs one
        listdir + one small read, no Spark job."""
        from aspublic_spark.index.build import live_gens

        ptr = self.fs.read_json(
            os.path.join(self.index_dir, "dictionary_CURRENT.json")
        )
        return (tuple(live_gens(self.index_dir, self.fs)), ptr["path"])

    def _maybe_auto_refresh(self):
        if not self.auto_refresh:
            return
        fp = self._manifest_fingerprint()
        if fp != self._snap_fp:
            self.refresh()
    def _live(self, sub: str) -> DataFrame:
        """Read only LIVE generations (raw manifest committed) — a
        half-written compaction/prune/build output directory is never
        visible to queries. Snapshot semantics: the path list is pinned
        until refresh()."""
        paths = live_gen_paths(self.index_dir, sub, self.fs)
        if not paths:
            raise FileNotFoundError(
                f"index at {self.index_dir} has no live generations with {sub}"
            )
        return self.spark.read.option(
            "basePath", os.path.join(self.index_dir, sub)
        ).parquet(*paths)

    def docs(self) -> DataFrame:
        if self._docs_df is None:
            df = self._live("docs")
            if self._cache:
                # server mode: cache in a handful of fat partitions —
                # probing a few hundred thousand cached rows needs a few
                # tasks, and 32 near-empty tasks cost more scheduling
                # than the scan itself (measured ~0.1 s/query at sf0.1)
                par = self.spark.sparkContext.defaultParallelism
                df = df.coalesce(max(8, par // 4)).cache()
            self._docs_df = df
        return self._docs_df

    def dictionary(self) -> DataFrame:
        if self._dict_df is None:
            df = self.spark.read.parquet(
                dictionary_location(self.index_dir, self.fs)
            )
            self._dict_df = df.cache() if self._cache else df
        return self._dict_df

    def blocks(self, terms: list[str]) -> DataFrame:
        if self._blocks_df is None:
            # one DataFrame reused across queries: Spark's file index is
            # built once, not re-listed per search. The engine is a
            # point-in-time snapshot (like the viewer's sqlite handle) —
            # call refresh() after new generations land.
            self._blocks_df = self._live("postings")
        return self._blocks_df.filter(F.col("term").isin(list(terms)))  # pushed to scan

    def refresh(self):
        """Re-list index tables after incremental builds/compaction."""
        for df in (self._docs_df, self._dict_df):
            if df is not None and self._cache:
                df.unpersist()
        self._docs_df = self._dict_df = self._blocks_df = None
        self._term_cache.clear()
        self._prefix_cache.clear()
        self._snap_fp = self._manifest_fingerprint()
        st_rows = read_stats(self.index_dir, self.fs)
        self.n_docs = int(st_rows[0]["n_docs"])
        self.avgdl_by_fld = {int(r["fld"]): float(r["avgdl"] or 1.0) for r in st_rows}
        self.avgdl = self.avgdl_by_fld.get(0, 1.0)

    def term_stats(self, terms: list[str]) -> dict[str, dict[int, dict]]:
        """{term: {fld: dictionary row}} — a term exists if it appears
        in ANY indexed field. Cached per term on the driver (the
        reference's sqlite page cache keeps the FTS5 term btree warm the
        same way): one dictionary-scan JOB per NEW term set, zero for
        repeats."""
        if not terms:
            return {}
        missing = sorted({t for t in terms if t not in self._term_cache})
        if missing:
            rows = self.dictionary().filter(F.col("term").isin(missing)).collect()
            found: dict[str, dict[int, dict]] = {}
            for r in rows:
                found.setdefault(r["term"], {})[int(r["fld"])] = r.asDict()
            if len(self._term_cache) + len(missing) > self._term_cache_max:
                # bound driver memory, but never drop entries for terms
                # requested in THIS call: snapshot them before the clear so
                # the returned dict stays complete (a silent miss here made
                # an AND/phrase term look absent from the corpus).
                keep = {
                    t: self._term_cache[t] for t in terms if t in self._term_cache
                }
                self._term_cache.clear()
                self._term_cache.update(keep)
            for t in missing:
                self._term_cache[t] = found.get(t, {})  # {} = negative entry
        return {t: self._term_cache[t] for t in terms if self._term_cache.get(t)}

    def idf(self, df_t: int) -> float:
        return math.log((self.n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)

    def _safe_ub_w(self, max_tf: float, min_dl: float, avgdl: float | None = None) -> float:
        """Upper bound of the BM25 weight for any posting with tf<=max_tf,
        dl>=min_dl under the CURRENT per-field avgdl (monotonic in tf up,
        dl down) — valid across generations even when avgdl drifted
        since pack."""
        a = self.avgdl if avgdl is None else avgdl
        return (
            max_tf * (BM25_K1 + 1.0)
            / (max_tf + BM25_K1 * (1.0 - BM25_B + BM25_B * min_dl / a))
        )

    def unpack(self, blocks: DataFrame, with_positions: bool = False) -> DataFrame:
        schema = _UNPACK_POS_SCHEMA if with_positions else _UNPACK_SCHEMA
        cols = ["term", "fld", "n", "doc_gaps", "tfs", "dls"] + (
            ["positions"] if with_positions else []
        )
        return blocks.select(*cols).mapInArrow(_unpack_arrow_factory(with_positions), schema)

    # -- structured predicates (Q6-Q8) ---------------------------------
    @staticmethod
    def _coerce_endpoint(v, side: str):
        """Reference date-endpoint coercion (db_sqlite.py:85-98,
        db_postgres.py:75-88): a pure ``date`` for ``before`` becomes
        that day's midnight (datetime.min.time()) and for ``after``
        becomes that day's end (datetime.max.time()); comparisons stay
        strict, so a pure-date range EXCLUDES both endpoint days —
        exactly the reference's observable behavior."""
        import datetime as _dt

        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            t = _dt.datetime.min.time() if side == "before" else _dt.datetime.max.time()
            return _dt.datetime.combine(v, t)
        return v

    def filtered_docs(
        self,
        role: str | None = None,
        tool_present: bool | None = None,
        after=None,
        before=None,
        conv_prefix: str | None = None,
        extra_filter=None,
    ) -> DataFrame:
        d = self.docs()
        if role is not None and "role" in d.columns:
            d = d.filter(F.col("role") == role)
        if "tool" in d.columns:
            if tool_present is True:
                d = d.filter(F.col("tool").isNotNull())
            elif tool_present is False:
                d = d.filter(F.col("tool").isNull())
        if "ts" in d.columns:
            if after is not None:
                d = d.filter(  # strict, viewer semantics
                    F.col("ts") > F.lit(self._coerce_endpoint(after, "after"))
                )
            if before is not None:
                d = d.filter(
                    F.col("ts") < F.lit(self._coerce_endpoint(before, "before"))
                )
        if conv_prefix is not None and "conv_id" in d.columns:
            d = d.filter(F.col("conv_id").startswith(conv_prefix))
        if extra_filter is not None:
            d = d.filter(extra_filter)  # arbitrary predicate on docs meta
        return d

    def _resolve_col_filters(self, pq: ParsedQuery):
        """Resolve column filters (``col:``, ``{a b}:``, ``-col:``,
        ``-{a b}:``) to allowed field-ordinal SETS.

        Returns (col_single: term -> fld set, col_phrases: [(tokens,
        fld set)], fld_of: term -> fld set for EVERY restricted term).
        Raises FTS5's "no such column" for unknown names, and a clear
        error for the shapes our per-(term, field) scoring model
        cannot express (one term both restricted and unrestricted, or
        restricted by two DIFFERENT filters — FTS5 treats those as
        independent phrases; we refuse rather than silently misscore).
        An exclusion covering every indexed column yields an empty set,
        which the caller resolves to an empty result (probed: FTS5
        matches nothing there)."""
        if not pq.col_filters:
            return {}, [], {}
        col_map = {c.lower(): i for i, c in enumerate(self.text_cols)}
        col_single: dict[str, frozenset[int]] = {}
        col_phrases: list[tuple[list[str], frozenset[int]]] = []
        fld_of: dict[str, frozenset[int]] = {}
        for cnames, exclude, toks in pq.col_filters:
            listed = set()
            for cname in cnames:
                f = col_map.get(cname.lower())
                if f is None:
                    raise ValueError(f"no such column: {cname}")
                listed.add(f)
            fset = (
                frozenset(range(self.n_fields)) - listed
                if exclude
                else frozenset(listed)
            )
            for t in toks:
                if t in fld_of and fld_of[t] != fset:
                    raise ValueError(
                        f"term '{t}' is column-filtered by two different "
                        "filters — unsupported"
                    )
                fld_of[t] = fset
            if len(toks) == 1:
                col_single[toks[0]] = fset
            elif toks:
                col_phrases.append((toks, fset))
        unrestricted = (
            set(pq.and_terms)
            | {t for ph in pq.phrases for t in ph}
            | {t for tg, _n in pq.nears for t in tg}
            | {t for ph in pq.anchors for t in ph}
            | {t for lead, _s in pq.prefix_phrases for t in lead}
            | {t for g in pq.or_groups for t in g}
            | {t for g in pq.or_phrase_groups for ph in g for t in ph}
        )
        both = sorted(set(fld_of) & unrestricted)
        if both:
            raise ValueError(
                f"terms {both} appear both column-filtered and "
                "unfiltered in one query — unsupported"
            )
        return col_single, col_phrases, fld_of

    def expand_prefix(self, stems: list[str]) -> dict[str, dict[str, dict[int, dict]]]:
        """Expand FTS5 prefix stems against the dictionary: stem ->
        {term: {fld: dictionary row}}.

        ONE dictionary job for all uncached stems (an OR of
        ``startswith`` predicates — each pushes to the parquet scan as
        StringStartsWith, so only matching dictionary row groups are
        read). Expansions are cached per stem on the driver, like the
        per-term cache; :meth:`refresh` clears both. A stem matching
        more than ``prefix_max_expansion`` distinct terms raises —
        FTS5 has no cap (its term btree walk is free), but here the
        expansion becomes driver state and an In-filter, so a head
        stem like ``t*`` must fail loudly with the remedy (lengthen
        the stem) rather than OOM the driver."""
        missing = sorted({s for s in stems if s not in self._prefix_cache})
        if missing:
            cond = None
            for s in missing:
                c = F.col("term").startswith(s)
                cond = c if cond is None else (cond | c)
            cap = self.prefix_max_expansion
            # bound the driver materialization itself: collect at most
            # one row past the worst-case legal volume, so a head stem
            # on a 10^8-term dictionary raises instead of OOMing
            lim = cap * len(missing) * self.n_fields + 1
            rows = self.dictionary().filter(cond).limit(lim).collect()
            if len(rows) >= lim:
                raise ValueError(
                    f"prefix expansion exceeds {cap} terms — lengthen the stem"
                )
            new_rows = sum(
                sum(len(m) for m in self._prefix_cache.get(s, {}).values())
                for s in missing
            ) + len(rows)
            cached_rows = sum(
                sum(len(m) for m in exp.values())
                for exp in self._prefix_cache.values()
            )
            if cached_rows + new_rows > self._prefix_cache_max_rows:
                # cap-and-reset like _term_cache, but keep THIS call's
                # stems so the returned dict stays complete
                keep = {
                    s: self._prefix_cache[s] for s in stems if s in self._prefix_cache
                }
                self._prefix_cache.clear()
                self._prefix_cache.update(keep)
            for s in missing:
                exp: dict[str, dict[int, dict]] = {}
                for r in rows:
                    if r["term"].startswith(s):
                        exp.setdefault(r["term"], {})[int(r["fld"])] = r.asDict()
                if len(exp) > cap:
                    raise ValueError(
                        f"prefix '{s}*' expands to {len(exp)} terms "
                        f"(> prefix_max_expansion={cap}) — lengthen the stem"
                    )
                self._prefix_cache[s] = exp
        return {s: self._prefix_cache[s] for s in stems}

    def _coarse_intervals(self, rare: DataFrame, nbuck: int) -> DataFrame:
        """Coarsen a term's (min_doc, max_doc) block intervals to at most
        ``nbuck`` covering intervals, fully distributed: bucket by the
        HIGH BITS of min_doc (one groupBy with map-side partial
        aggregation; no window function — an ntile().over(...) would
        funnel every metadata row of a dense Zipf-head term through a
        single task; and no span pre-scan — high-bit bucketing needs no
        lo/width job, saving one driver round-trip per pruned query).
        doc_ids are xxhash64 outputs uniform over the FULL signed-64
        range, so fixed-range buckets are uniformly filled; for skewed
        external ids the buckets merely coarsen unevenly. Either way
        the coarse intervals are a covering SUPERSET of the exact
        union, so the downstream semi-join prune stays lossless."""
        bits = max(1, min(62, int(math.log2(max(nbuck, 2)))))
        return (
            rare.groupBy(
                F.shiftright(F.col("min_doc"), 64 - bits).alias("_b")
            )
            .agg(
                F.min("min_doc").alias("min_doc"),
                F.max("max_doc").alias("max_doc"),
            )
            .drop("_b")
        )

    # -- block pruning (north_rule: block-max WAND) ----------------------
    def _prune_blocks(
        self,
        pos_blocks: DataFrame,
        not_blocks: DataFrame | None,
        pq: ParsedQuery,
        scaled_map: dict[tuple[str, int], float],
        k: int,
        docs_filtered: DataFrame,
        has_doc_filters: bool,
        stats: dict[str, dict[int, dict]],
        probe: tuple,
    ):
        info = {"theta": 0.0, "range_pruned": False, "theta_pruned": False}
        # per-block score upper bound (safe under avgdl drift); avgdl is
        # the block's FIELD's current value
        avgdl_expr = F.create_map(
            *[x for f, a in self.avgdl_by_fld.items() for x in (F.lit(f), F.lit(a))]
        )
        ub_w = (
            F.col("max_tf").cast("double") * (BM25_K1 + 1.0)
            / (
                F.col("max_tf").cast("double")
                + BM25_K1
                * (
                    1.0
                    - BM25_B
                    + BM25_B * F.col("min_dl").cast("double") / avgdl_expr[F.col("fld")]
                )
            )
        )
        scaled_expr = F.create_map(
            *[
                x
                for (t, f), v in scaled_map.items()
                for x in (F.lit(_tf_key(t, f)), F.lit(v))
            ]
        )
        pos_blocks = pos_blocks.withColumn("_ub", scaled_expr[_tf_key_col()] * ub_w)

        # ---- doc-range intersection pruning for AND/phrase queries ----
        # (a doc satisfies term t if it matches in ANY field, so the
        # rarest term's intervals span its blocks across all fields)
        and_like = (
            list(pq.and_terms)
            + [t for ph in pq.phrases for t in ph]
            + [t for tg, _n in pq.nears for t in tg]  # conjunctive too
            + [t for ph in pq.anchors for t in ph]
        )
        # intersecting a single term's blocks with their own intervals
        # keeps everything — only worth the extra job when a SECOND
        # term's (or the NOT side's) blocks can actually be dropped
        distinct_pos = {(t, f) for (t, f) in scaled_map}
        if and_like and (len({t for t, _ in distinct_pos}) > 1 or not_blocks is not None):
            df_of = lambda t: sum(  # noqa: E731
                s["df"] for s in stats.get(t, {}).values()
            )
            rarest = min(and_like, key=df_of)
            rare = pos_blocks.filter(F.col("term") == rarest).select(
                "min_doc", "max_doc"
            )
            # Driver-safety: for a dense rarest term, collecting every
            # block interval is an unbounded driver materialization.
            # Coarsen distributed first: uniform-width contiguous buckets
            # over the doc-id span, one covering interval per bucket —
            # a plain groupBy (map-side partial agg, no window), unlike
            # the previous ntile().over(Window.orderBy(...)) which
            # funneled every metadata row through ONE task. doc_ids are
            # xxhash64 outputs, so uniform-width buckets are also
            # uniformly filled; for skewed external single-key ids the
            # buckets merely coarsen unevenly. Coarse intervals are a
            # SUPERSET of the exact union either way, so the semi-join
            # prune stays lossless (keeps more blocks, never fewer).
            est_blocks = df_of(rarest) / max(self.block_size, 1) + 1
            if est_blocks > self.max_intervals_collect:
                rare = self._coarse_intervals(
                    rare, min(256, self.max_intervals_collect)
                )
            ivals = rare.collect()
            merged = []
            for lo, hi in sorted((r["min_doc"], r["max_doc"]) for r in ivals):
                if merged and lo <= merged[-1][1]:
                    merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
                else:
                    merged.append((lo, hi))
            if merged:
                iv_df = self.spark.createDataFrame(merged, "lo long, hi long")
                cond = (F.col("min_doc") <= F.col("hi")) & (F.col("max_doc") >= F.col("lo"))
                pos_blocks = pos_blocks.join(F.broadcast(iv_df), cond, "left_semi")
                if not_blocks is not None:
                    not_blocks = not_blocks.join(F.broadcast(iv_df), cond, "left_semi")
                info["range_pruned"] = True
                info["n_intervals"] = len(merged)

        # ---- threshold (theta) pruning --------------------------------
        # Valid only when no phrases or NEAR groups (positional
        # constraints could invalidate partial candidates'
        # qualification, making the probe's k-th score a superset bound
        # — too HIGH to prune with). NOT terms and structured doc
        # filters are applied inside the phase-1 candidate scoring, so
        # theta stays a valid lower bound of the true k-th result.
        # prefixes gate theta off like phrases: the probe can't apply
        # the stem's AND-qualification (the virtual branch isn't in the
        # phase-1 blocks), so its k-th score would be a superset bound
        if (
            not pq.phrases
            and not pq.nears
            and not pq.anchors
            and not pq.prefixes
            and not pq.prefix_phrases
            and scaled_map
        ):
            gub = {
                (t, f): v
                * self._safe_ub_w(
                    stats[t][f]["max_tf"],
                    stats[t][f]["min_dl"],
                    self.avgdl_by_fld.get(f, 1.0),
                )
                for (t, f), v in scaled_map.items()
                if t in stats and f in stats[t]
            }
            total_ub = sum(gub.values())
            from pyspark.sql import Window

            w = Window.partitionBy("term", "fld").orderBy(
                F.col("_ub").desc(), "salt", "block_id"
            )
            top_blocks = (
                pos_blocks.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= max(1, math.ceil(2 * k / self.block_size)))
                .drop("_rn")
            )
            # the probe program runs through the same one-pass
            # evaluator as the query; the NOT side is never pruned
            qual1 = self._evaluate(top_blocks, not_blocks, probe, scaled_map)
            if has_doc_filters:
                qual1 = qual1.join(docs_filtered.select("doc_id"), "doc_id", "left_semi")
            top = qual1.orderBy(F.col("score").desc()).limit(k).collect()
            if len(top) >= k:
                theta = float(top[-1]["score"])
                info["theta"] = theta
                # a block of (term t, field f) survives iff its own bound
                # plus every OTHER (term, field)'s global bound can reach
                # theta (a doc may legitimately score t in both fields)
                other_expr = F.create_map(
                    *[
                        x
                        for (t, f) in scaled_map
                        for x in (
                            F.lit(_tf_key(t, f)),
                            F.lit(total_ub - gub.get((t, f), 0.0)),
                        )
                    ]
                )
                pos_blocks = pos_blocks.filter(
                    F.col("_ub") + other_expr[_tf_key_col()] >= theta
                )
                info["theta_pruned"] = True
        return pos_blocks.drop("_ub"), not_blocks, info

    # -- evaluation -------------------------------------------------------
    def _flds(self, fs) -> tuple | None:
        """A program leaf's field restriction: None = every field."""
        if fs is None or set(fs) >= set(range(self.n_fields)):
            return None
        return tuple(sorted(fs))

    def _scan(self, need: dict[str, frozenset]) -> DataFrame:
        """Blocks of every term the program reads; a term needed only in
        some fields drops its other-field blocks at the scan (fld rides
        the block metadata, so this is a pushed filter)."""
        cond = None
        for t, fs in sorted(need.items()):
            if self._flds(fs) is not None:
                c = (F.col("term") == F.lit(t)) & ~F.col("fld").isin(sorted(fs))
                cond = c if cond is None else (cond | c)
        blocks = self.blocks(sorted(need))
        return blocks if cond is None else blocks.filter(~cond)

    def _prefix_scaled(self, exp: dict[str, dict[str, dict[int, dict]]], weight) -> dict:
        """Scoring entries ``(stem*, fld) -> weight(label, fld, df)`` of
        the virtual prefix terms; ``exp`` maps each label to its
        (field-restricted) expansion rows. The virtual df is the number
        of distinct docs holding any expansion term in that field: free
        from the dictionary when every stem expands to one term, else
        ONE job over the expansions' postings."""
        if all(len(m) == 1 for m in exp.values()):
            dfs = {
                (label, f): row["df"]
                for label, m in exp.items()
                for rows in m.values()
                for f, row in rows.items()
            }
        else:
            branch = None
            for label, m in exp.items():
                # each stem filters its own block scan (pushed, one row
                # per block), never the unpacked postings
                blocks = self.blocks(sorted(m))
                flds = self._flds({f for rows in m.values() for f in rows})
                if flds is not None:
                    blocks = blocks.filter(F.col("fld").isin(list(flds)))
                part = self.unpack(blocks).select(F.lit(label).alias("term"), "fld", "doc_id")
                branch = part if branch is None else branch.unionByName(part)
            dfs = {
                (r["term"], int(r["fld"])): int(r["count"])
                for r in branch.distinct().groupBy("term", "fld").count().collect()
            }
        return {(label, f): weight(label, f, df) for (label, f), df in dfs.items()}

    def _evaluate(
        self,
        blocks: DataFrame,
        not_blocks: DataFrame | None,
        prog: tuple,
        scaled: dict,
        virtual: dict | None = None,
        small: bool = False,
    ) -> DataFrame:
        """Run ``prog`` over the packed blocks in ONE mapInArrow pass
        (:func:`_fused_score_factory`) -> ``(doc_id, score)``. Positive
        and NOT-side blocks share the scan, tagged ``_neg``; positions
        are read only when a window leaf exists. The blocks repartition
        by slice into n_slices tasks — except when the program reads a
        single (term, field): every doc then has one posting, so any
        split is exact and the exchange is skipped. A ``small`` query
        (dictionary-bounded) runs in at most 4 tasks either way: each
        task is a Python worker round-trip, and near-empty tasks cost
        more scheduling than the decode (a coalesced scan, or at most 4
        hash partitions of the slices)."""
        virtual = virtual or {}
        need_pos = any(lf[0] != "has" for lf in _prog_leaves(prog))
        if need_pos and not self.store_positions:
            raise ValueError(
                "phrase queries need positions, but this index was built "
                "with store_positions=False"
            )
        spec = {
            "prog": prog,
            "need_pos": need_pos,
            "scaled": dict(scaled),
            "avgdl": dict(self.avgdl_by_fld),
            "virtual": virtual,
        }
        sel = ["slice", "term", "fld", "n", "doc_gaps", "tfs", "dls"] + (
            ["positions"] if need_pos else []
        )
        src = blocks.select(*sel).withColumn("_neg", F.lit(False))
        if not_blocks is not None:
            src = src.unionByName(not_blocks.select(*sel).withColumn("_neg", F.lit(True)))
        if not_blocks is None and not virtual and len(scaled) == 1:
            if small:
                src = src.coalesce(4)
        else:
            n = max(1, self.n_slices)
            src = src.repartition(min(n, 4) if small else n, "slice")
        return src.mapInArrow(_fused_score_factory(spec), "doc_id long, score double")

    def _empty(self, pq: ParsedQuery, docs_f: DataFrame, key_meta: list, info: dict) -> SearchResult:
        empty = docs_f.limit(0).withColumn("score", F.lit(0.0)).select(
            "doc_id", *key_meta, "score"
        )
        return SearchResult(empty, pq, {**info, "empty": True})

    def _top_k(
        self, pq, cand, total_df, docs_f, key_meta, order_cols, k, info
    ) -> SearchResult:
        """The index->row join (Q9) + top-k. When the dictionary says
        the whole candidate side is small (total df across the query's
        terms — known driver-side, no extra job), broadcast it so the
        join probes the docs table instead of sort-merging it."""
        if total_df <= self.broadcast_cand_max_postings:
            cand = F.broadcast(cand)
        out = (
            cand.join(docs_f.select("doc_id", *key_meta), "doc_id")
            .select("doc_id", *key_meta, "score")
            .orderBy(*order_cols)
            .limit(k)
        )
        return SearchResult(out, pq, info)

    # -- main entry -------------------------------------------------------
    def search(
        self,
        q: str | ParsedQuery | None = None,
        k: int = 50,
        role: str | None = None,
        tool_present: bool | None = None,
        after=None,
        before=None,
        conv_prefix: str | None = None,
        extra_filter=None,
        order: str = "bm25",
        block_max: bool = True,
        parser=parse_query,
        field_weights: list[float] | None = None,
    ) -> SearchResult:
        """Run one search; returns a DataFrame of at most k rows with
        columns [key_cols..., meta_cols..., score] ordered by the
        requested criterion with deterministic tie-breaks.

        ``field_weights``: per-indexed-column BM25 weights, the analog
        of FTS5's ``bm25(fts, w1, w2, ...)`` (reference indexes text +
        subject, db_sqlite.py:27). Defaults to 1.0 per field (FTS5
        default); total score = sum_f w_f * BM25_f."""
        self._maybe_auto_refresh()
        k = max(1, min(int(k), 100))  # reference clamp, viewer.py:123
        pq = parser(q, tok=self._tok) if isinstance(q, str) else (q or ParsedQuery())
        has_doc_filters = any(
            v is not None for v in (role, tool_present, after, before, conv_prefix, extra_filter)
        )
        docs_f = self.filtered_docs(role, tool_present, after, before, conv_prefix, extra_filter)
        key_meta = [c for c in self.key_cols if c != "doc_id"] + self.meta_cols

        order_cols = (
            [F.col("score").desc()] + [F.col(c).asc() for c in self.key_cols]
            if order == "bm25"
            else [F.col("ts").desc()] + [F.col(c).asc() for c in self.key_cols]
        )

        if pq.tree is not None:
            # raw-FTS5 boolean structure the flat model can't express:
            # generic expression-tree compilation
            return self._search_tree(pq, k, docs_f, key_meta, order_cols, field_weights)

        if pq.is_empty():
            # pure structured query (reference requires q, but recency
            # browsing is well-defined): top-k most recent regardless of
            # the requested order — BM25 over no terms is meaningless
            browse_cols = (
                [F.col("ts").desc()] + [F.col(c).asc() for c in self.key_cols]
                if "ts" in docs_f.columns
                else [F.col(c).asc() for c in self.key_cols]
            )
            out = (
                docs_f.withColumn("score", F.lit(0.0))
                .select("doc_id", *key_meta, "score")
                .orderBy(*browse_cols)
                .limit(k)
            )
            return SearchResult(out, pq, {})

        pos_terms = pq.positive_terms
        # ONE dictionary lookup job for the whole query: positive terms
        # + NOT-side terms together (later term_stats calls hit the
        # per-term cache)
        ng_all = (
            {t for g in pq.not_groups for t in g}
            | {t for ph in pq.not_phrases for t in ph}
            | set(pq.not_terms)
        )
        self.term_stats(list(dict.fromkeys(pos_terms)) + sorted(ng_all))
        stats = self.term_stats(pos_terms)
        col_single, col_phrases, fld_of = self._resolve_col_filters(pq)
        # prefix stems (FTS5 `ab*`) expand against the dictionary: ONE
        # job for all uncached stems; each positive stem becomes a
        # VIRTUAL scoring term (tf summed over matching tokens, df =
        # distinct matching docs — FTS5's bm25 counts a prefix as a
        # single phrase, pinned by probe)
        pos_stems = list(
            dict.fromkeys(pq.prefixes + [s for _l, s in pq.prefix_phrases])
        )
        all_stems = sorted(set(pos_stems) | set(pq.not_prefixes))
        pfx_exp = self.expand_prefix(all_stems) if all_stems else {}
        # an AND/phrase/NEAR/anchor/col-filter term absent -> empty
        required = (
            set(pq.and_terms)
            | {t for ph in pq.phrases for t in ph}
            | {t for tg, _n in pq.nears for t in tg}
            | {t for ph in pq.anchors for t in ph}
            | {t for lead, _s in pq.prefix_phrases for t in lead}
            | set(fld_of)
        )
        # OR groups where no alternative exists -> unsatisfiable (a
        # phrase alternative is live only if ALL its terms exist)
        or_ops = [
            (
                [t for t in tg if t in stats],
                [ph for ph in pg if all(t in stats for t in ph)],
            )
            for tg, pg in pq.or_operands()
        ]
        if (
            any(t not in stats for t in required)
            or not (any(t in stats for t in pos_terms) or pos_stems)
            # a positive stem with an empty expansion -> empty (FTS5:
            # `zz*` with no matching token matches nothing)
            or any(not pfx_exp.get(s) for s in pos_stems)
            # a col-restricted term absent from every ALLOWED column ->
            # empty (this also covers an exclusion spanning all fields)
            or any(
                not (set(stats.get(t, {})) & fs) for t, fs in fld_of.items()
            )
            or any(not tg and not pg for tg, pg in or_ops)
        ):
            return self._empty(pq, docs_f, key_meta, {})

        live_terms = [t for t in pos_terms if t in stats]
        fw = list(field_weights) if field_weights is not None else []
        fw += [1.0] * (self.n_fields - len(fw))
        # (term, fld) -> field_weight * idf(term in that field); df is
        # per-field, like per-column FTS5 statistics
        scaled_map = {
            (t, f): fw[f] * self.idf(s["df"])
            for t in live_terms
            for f, s in stats[t].items()
            # a col-restricted term scores ONLY its allowed columns
            # (FTS5: col:t matches — and bm25 counts — those hits)
            if t not in fld_of or f in fld_of[t]
        }
        # each positive stem scores as ONE virtual term ("stem*" —
        # NUL-free and star-free real terms can't collide) synthesized
        # in the pass from its expansion's postings
        if pos_stems:
            scaled_map.update(
                self._prefix_scaled(
                    {s + "*": pfx_exp[s] for s in pos_stems},
                    lambda _label, f, df: fw[f] * self.idf(df),
                )
            )
        virtual = {s + "*": (tuple(sorted(pfx_exp[s])), None) for s in pos_stems}
        full = frozenset(range(self.n_fields))
        need = {t: fld_of.get(t, full) for t in live_terms}
        need.update({t: full for s in pos_stems for t in pfx_exp[s]})
        pos_blocks = self._scan(need)

        # NOT side: single terms and NOT prefixes exclude on any match;
        # conjunctive NOT groups (sqlite `!"a b"` -> NOT (a AND b))
        # exclude only docs containing ALL group terms; negated phrases
        # (websearch `-"a b"`) exclude on adjacent occurrence. Anything
        # with a term absent from the corpus can never match — dropped.
        ns_stats = self.term_stats(sorted(set(pq.not_terms)))
        not_single = sorted(t for t in set(pq.not_terms) if t in ns_stats)
        ng_terms = {t for g in pq.not_groups for t in g} | {
            t for ph in pq.not_phrases for t in ph
        }
        ng_stats = self.term_stats(sorted(ng_terms)) if ng_terms else {}
        live_groups = [g for g in pq.not_groups if all(t in ng_stats for t in g)]
        live_nphrases = [ph for ph in pq.not_phrases if all(t in ng_stats for t in ph)]
        npfx_terms = sorted(
            {t for s in pq.not_prefixes for t in pfx_exp.get(s, {})}
        )
        not_any = sorted(set(not_single) | set(npfx_terms))
        not_all_terms = sorted(
            set(not_any)
            | {t for g in live_groups for t in g}
            | {t for ph in live_nphrases for t in ph}
        )
        not_blocks = self.blocks(not_all_terms) if not_all_terms else None

        # -- compile the flat query to a mask program ------------------
        def has(label: str, neg: bool = False) -> tuple:
            return ("has", label, None if neg else self._flds(fld_of.get(label)), neg)

        def phrase(slots, flds=None, anchored=False, neg=False) -> tuple:
            return ("phrase", tuple(slots), self._flds(flds), neg, anchored)

        def words(ph) -> list:
            return [(t,) for t in ph]

        # col-restricted singles and standalone-prefix labels qualify as
        # AND terms: their scoring rows are already field-restricted /
        # exist iff some expansion term matched
        terms_req = [has(t) for t in sorted(set(pq.and_terms) | set(col_single))]
        terms_req += [has(s + "*") for s in pq.prefixes]
        windows = [phrase(words(ph)) for ph in pq.phrases]
        windows += [phrase(words(ph), anchored=True) for ph in pq.anchors]
        windows += [
            ("near", tuple(dict.fromkeys(((t,),) for t in tg)), None, False, int(nn) + 1)
            for tg, nn in pq.nears
        ]
        windows += [phrase(words(ph), flds=fs) for ph, fs in col_phrases]
        # FTS5 `"a b"*`: leading tokens adjacent, then ANY expansion term
        windows += [
            phrase(words(lead) + [tuple(sorted(pfx_exp[stem]))])
            for lead, stem in pq.prefix_phrases
        ]
        groups = [
            _or(*[has(t) for t in sorted(set(tg))], *[phrase(words(ph)) for ph in pg])
            for tg, pg in or_ops
        ]
        not_side = [("unot", has(t, neg=True)) for t in not_any]
        not_side += [
            ("unot", _and(*[has(t, neg=True) for t in sorted(set(g))]))
            for g in live_groups
        ]
        not_side += [("unot", phrase(words(ph), neg=True)) for ph in live_nphrases]
        prog = _and(*terms_req, *groups, *windows, *not_side)

        info: dict = {}
        total_df = sum(s["df"] for t in live_terms for s in stats[t].values())
        # the expansions' volume counts toward the broadcast/prune
        # decisions (terms shared by overlapping stems count once per
        # stem — a safe overestimate)
        total_df += sum(
            s2["df"]
            for s in pos_stems
            for m in pfx_exp[s].values()
            for s2 in m.values()
        )
        # pruning pays for its extra jobs only when there is real volume
        # to skip; below the threshold the exhaustive plan is faster
        if block_max and order == "bm25" and total_df >= self.prune_min_postings:
            pq_pr = pq
            if pq.col_filters:
                # the pruner sees col-restricted singles as AND terms
                # and col phrases as phrases (adjacency -> theta off)
                from dataclasses import replace as _dc_replace

                pq_pr = _dc_replace(
                    pq,
                    and_terms=list(pq.and_terms) + sorted(col_single),
                    phrases=list(pq.phrases) + [ph for ph, _f in col_phrases],
                )
            # theta-probe program: positionless and conservative — term
            # qualification only (phrase alternatives dropped from OR
            # groups) and the NOT side excluded on ANY match — so its
            # k-th score is a valid lower bound of the true k-th
            probe = _and(
                *terms_req,
                *[_or(*[has(t) for t in sorted(set(tg))]) for tg, _pg in pq_pr.or_operands()],
                *[("unot", has(t, neg=True)) for t in not_all_terms],
            )
            pos_blocks, not_blocks, info = self._prune_blocks(
                pos_blocks, not_blocks, pq_pr, scaled_map, k, docs_f,
                has_doc_filters, stats, probe,
            )

        cand = self._evaluate(
            pos_blocks, not_blocks, prog, scaled_map, virtual,
            small=total_df <= self.broadcast_cand_max_postings,
        )
        return self._top_k(pq, cand, total_df, docs_f, key_meta, order_cols, k, info)

    # -- generic boolean-tree compilation (raw-FTS5 surface) -------------
    def _search_tree(
        self,
        pq: ParsedQuery,
        k: int,
        docs_f: DataFrame,
        key_meta: list[str],
        order_cols: list,
        field_weights: list[float] | None,
    ) -> SearchResult:
        """Evaluate a raw-FTS5 boolean expression tree that the flat
        ParsedQuery model can't express (``a OR (b NOT c)``,
        ``NEAR(a b) OR c``, ``text:(x OR y)``, ``col:NEAR(...)``,
        ``col:a*``, ...): the annotated, simplified tree compiles to the
        same mask program the flat path runs.

        Every leaf reads the positive side (a doc can satisfy the tree
        through negations, so the candidate universe is docs holding
        ANY leaf term; docs holding none evaluate like the empty
        document, which was proven non-matching below). Non-scoring
        leaves — NOT right operands and hybrid ``!`` — carry weight 0.0:
        they flag presence without perturbing the sum (x + 0.0 == x in
        IEEE754, so scores stay bit-identical to the flat plan on
        flat-equivalent trees). Block-max pruning stays off: theta is
        unsound under OR/NOT structure and these queries are the rare
        tail — the exhaustive plan is the correct default.

        Column filters are PER-LEAF (FTS5 treats ``text:a OR
        subject:a`` as two independent phrases of the same term): an
        annotate pass resolves each leaf's colspec chain to a field set
        carried on the leaf, the scan reads the UNION of a term's
        allowed fields (pushed filter), and each leaf — presence or
        window — reads only its own fields. One documented scoring
        deviation: a term restricted differently in two scoring leaves
        scores each (term, field) contribution ONCE (FTS5's bm25 would
        count a field hit once per covering phrase); match sets are
        exact either way (differentials)."""
        full = frozenset(range(self.n_fields))
        col_map = {c.lower(): i for i, c in enumerate(self.text_cols)}

        def spec_fset(spec: tuple) -> frozenset:
            names, exclude = spec
            listed = set()
            for nm in names:
                f = col_map.get(nm.lower())
                if f is None:
                    raise ValueError(f"no such column: {nm}")
                listed.add(f)
            return frozenset((set(full) - listed) if exclude else listed)

        def annotate(node: Node, fs: frozenset) -> Node:
            """Dissolve ``col`` wrappers, intersecting nested specs
            (probed FTS5 behavior), and stamp each LEAF's resolved
            field set onto its free ``spec`` slot."""
            if node.kind == "col":
                return annotate(node.kids[0], fs & spec_fset(node.spec))
            if node.kids:
                return Node(
                    node.kind,
                    kids=tuple(annotate(c, fs) for c in node.kids),
                    toks=node.toks,
                    n=node.n,
                    stem=node.stem,
                )
            if node.kind in ("true", "false"):
                return node
            return Node(
                node.kind,
                toks=node.toks,
                n=node.n,
                stem=node.stem,
                spec=tuple(sorted(fs)),
            )

        tree = annotate(pq.tree, full)
        raw_leaves: list = []
        _tree_walk_leaves(tree, (), True, raw_leaves)
        all_terms = sorted(
            {t for lf, _s, _c in raw_leaves for t in _leaf_terms(lf)}
        )
        all_stems = sorted(
            {st for lf, _s, _c in raw_leaves for st in _leaf_stems(lf)}
        )

        # ONE dictionary job for all terms, one for all stems
        stats = self.term_stats(all_terms)
        pfx_exp = self.expand_prefix(all_stems) if all_stems else {}

        def live_flds(t: str, fs) -> set:
            return set(stats.get(t, {})) & set(fs)

        def stem_live(s: str, fs) -> dict:
            """stem's expansion restricted to the given fields:
            term -> {fld: dictionary row}."""
            out = {}
            for t, m in pfx_exp.get(s, {}).items():
                mm = {f: r for f, r in m.items() if f in fs}
                if mm:
                    out[t] = mm
            return out

        def dead_leaf(leaf: Node) -> bool:
            fs = set(leaf.spec)
            return any(
                not live_flds(t, fs) for t in _leaf_terms(leaf)
            ) or any(not stem_live(st, fs) for st in _leaf_stems(leaf))

        tree = _tree_simplify(tree, dead_leaf)
        info: dict = {"tree": True}
        if tree.kind == "false":
            return self._empty(pq, docs_f, key_meta, info)
        if _tree_matches_empty_doc(tree):
            raise ValueError(
                "query is satisfied by documents containing none of its "
                "terms — pure negation is unsatisfiable over an inverted "
                "index (FTS5 refuses `NOT a` the same way)"
            )

        # SURVIVING leaves only: the scan reads the UNION of each term's
        # allowed fields across its live leaves; scoring fields are the
        # union over live SCORING leaves (a folded-away scoring leaf
        # must not grant weight to a term that only survives NOT-side —
        # the flat path's NOT terms never score either)
        leaves: list = []
        _tree_walk_leaves(tree, (), True, leaves)
        scan_fld: dict[str, set] = {}
        score_fld: dict[str, set] = {}
        scan_stem: dict[str, set] = {}
        score_stem: dict[str, set] = {}
        for leaf, _specs, sc in leaves:
            fs = set(leaf.spec)
            for t in _leaf_terms(leaf):
                scan_fld.setdefault(t, set()).update(fs)
                if sc:
                    score_fld.setdefault(t, set()).update(fs)
            for st in _leaf_stems(leaf):
                scan_stem.setdefault(st, set()).update(fs)
                if sc:
                    score_stem.setdefault(st, set()).update(fs)

        live_terms = sorted(t for t in scan_fld if live_flds(t, scan_fld[t]))
        stem_exp = {
            s: m for s in sorted(scan_stem) if (m := stem_live(s, scan_stem[s]))
        }
        fw = list(field_weights) if field_weights is not None else []
        fw += [1.0] * (self.n_fields - len(fw))
        # weight 0.0 for (term, field) pairs read only for NOT-side
        # presence: the fold keeps them out of the sum
        scaled_map = {
            (t, f): (
                fw[f] * self.idf(stats[t][f]["df"])
                if f in score_fld.get(t, ())
                else 0.0
            )
            for t in live_terms
            for f in sorted(live_flds(t, scan_fld[t]))
        }
        if stem_exp:
            scaled_map.update(
                self._prefix_scaled(
                    {s + "*": m for s, m in stem_exp.items()},
                    lambda label, f, df: (
                        fw[f] * self.idf(df)
                        if f in score_stem.get(label[:-1], ())
                        else 0.0
                    ),
                )
            )
        virtual = {
            s + "*": (tuple(sorted(m)), self._flds(scan_stem[s]))
            for s, m in stem_exp.items()
        }
        need = {t: frozenset(scan_fld[t]) for t in live_terms}
        for s, m in stem_exp.items():
            for t in m:
                need[t] = need.get(t, frozenset()) | frozenset(scan_stem[s])

        def slots(toks, fs) -> tuple:
            """Marker slots become their stem's (leaf-field-restricted)
            expansion."""
            return tuple(
                (sl,) if isinstance(sl, str) else tuple(sorted(stem_live(sl[1], fs)))
                for sl in toks
            )

        def compile_node(node: Node) -> tuple:
            kind = node.kind
            if kind in _BOOL_KINDS or kind in ("true", "false"):
                return (kind, *(compile_node(c) for c in node.kids))
            fs = set(node.spec)
            flds = self._flds(fs)
            if kind == "prefix":
                return ("has", node.stem + "*", flds, False)
            if kind == "near":
                ops = tuple(dict.fromkeys(slots(op, fs) for op in node.toks))
                return ("near", ops, flds, False, int(node.n) + 1)
            if kind == "prefix_phrase":
                pp = slots(node.toks, fs) + (tuple(sorted(stem_live(node.stem, fs))),)
                return ("phrase", pp, flds, False, False)
            if kind == "anchor" or (kind == "phrase" and len(node.toks) > 1):
                return ("phrase", slots(node.toks, fs), flds, False, kind == "anchor")
            # term or single-token phrase (adjacency is vacuous)
            return ("has", node.toks[0], flds, False)

        total_df = sum(
            s["df"] for t in live_terms for f, s in stats[t].items()
            if f in scan_fld[t]
        ) + sum(r["df"] for m in stem_exp.values() for rows in m.values() for r in rows.values())
        cand = self._evaluate(
            self._scan(need), None, compile_node(tree), scaled_map, virtual,
            small=total_df <= self.broadcast_cand_max_postings,
        )
        return self._top_k(pq, cand, total_df, docs_f, key_meta, order_cols, k, info)

    def attach_text(self, result: DataFrame, source: DataFrame) -> DataFrame:
        """Q9/Q13 analog: join scored keys back to the row store for full
        columns (the index itself stores no document content, like
        external-content FTS5)."""
        return result.join(source, on=[c for c in self.key_cols], how="left")
