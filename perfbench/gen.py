"""Seeded inputs for the pipeline workloads, and their oracle.

The oracle never calls the engine: it derives every expected payload,
error entry and retry count from the generator's own arrays, and
compares them with what the engine returned, row by row (matched by
``id``), with numpy.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from perfbench import stages as st

# Injected fault rates on the narrow items (shares of all items).
FAULT_RATES = {
    st.FAULT_SOFT: 0.002,
    st.FAULT_RETRY_RECOVERS: 0.002,
    st.FAULT_RETRY_EXHAUSTS: 0.001,
    st.FAULT_CRITICAL: 0.001,
    st.FAULT_FINAL_SOFT: 0.001,
}
MAX_RETRIES = 2  # Enrich's policy; an exhausted item makes 3 attempts
KEEP_BELOW = 14  # the relational filter keeps grp < 14 (grp in 0..15)

# One code per (stage, kind, exc_class); a row's error signature is the
# sum of its entries' codes (at most 15 entries of one kind per row).
ERROR_CODES = {
    ("enrich", "soft", "SoftError"): 1,
    ("enrich", "soft", "TransientError"): 16,
    ("score", "critical", "ValueError"): 256,
    ("bucket", "soft", "SoftError"): 4096,
    ("finish", "soft", "SoftError"): 4096,
}

_WORDS = (
    "spark stream window merge table column vector value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def narrow_items(n: int, seed: int) -> pa.Table:
    """Narrow items: id, a, b, tag, grp, fault (mutually exclusive codes)."""
    rng = np.random.default_rng(seed)
    tags = np.array([f"t{i:0{(i % 7) + 1}d}" for i in range(64)], dtype=object)
    fault = np.zeros(n, dtype=np.int8)
    u = rng.random(n)
    lo = 0.0
    for code, rate in FAULT_RATES.items():
        fault[(u >= lo) & (u < lo + rate)] = code
        lo += rate
    return pa.table(
        {
            "id": pa.array(rng.permutation(n).astype(np.int64)),
            "a": pa.array(rng.integers(0, 1_000_000, n, dtype=np.int64)),
            "b": pa.array(np.round(rng.random(n) * 1000.0, 3)),
            "tag": pa.array(tags[rng.integers(0, 64, n)], type=pa.string()),
            "grp": pa.array(rng.integers(0, 16, n, dtype=np.int32)),
            "fault": pa.array(fault),
        }
    )


def expected_narrow(t: pa.Table, filtered: bool, final_stage: str) -> dict:
    """Expected output of Enrich -> Score [-> filter] -> final stage, as
    numpy arrays sorted by id, plus the expected error ledger."""
    t = t.sort_by("id")
    ids = t["id"].to_numpy()
    a = t["a"].to_numpy()
    b = t["b"].to_numpy()
    fault = t["fault"].to_numpy()
    taglen = pc.utf8_length(t["tag"]).to_numpy().astype(np.int64)
    keep = t["grp"].to_numpy() < KEEP_BELOW if filtered else np.ones(len(ids), bool)
    x_ok = ~np.isin(fault, [st.FAULT_SOFT, st.FAULT_RETRY_EXHAUSTS])
    x = np.where(x_ok, a * 3 + taglen, 0)
    y_ok = fault != st.FAULT_CRITICAL
    y = b * 2.0 + x.astype(np.float64)
    z_ok = y_ok & (fault != st.FAULT_FINAL_SOFT)
    z = (ids * st.Z_MULT) % st.Z_MOD
    tries = np.ones(len(ids), np.int64)
    tries[fault == st.FAULT_RETRY_RECOVERS] = 2
    tries[fault == st.FAULT_RETRY_EXHAUSTS] = MAX_RETRIES + 1
    ledger = Counter()
    sig = np.zeros(len(ids), np.int64)
    for code, key, n_entries in (
        (st.FAULT_SOFT, ("enrich", "soft", "SoftError"), 1),
        (st.FAULT_RETRY_EXHAUSTS, ("enrich", "soft", "TransientError"), MAX_RETRIES + 1),
        (st.FAULT_CRITICAL, ("score", "critical", "ValueError"), 1),
        (st.FAULT_FINAL_SOFT, (final_stage, "soft", "SoftError"), 1),
    ):
        hit = (fault == code) & keep
        sig[hit] += ERROR_CODES[key] * n_entries
        ledger[key] += int(hit.sum()) * n_entries
    k = keep
    return {
        "id": ids[k],
        "x": x[k],
        "x_ok": x_ok[k],
        "y": y[k],
        "y_ok": y_ok[k],
        "z": z[k],
        "z_ok": z_ok[k],
        "tries": tries[k],
        "sig": sig[k],
        "ledger": ledger,
        "retries": int((tries[k] - 1).sum()),
    }


def error_signature(errors: pa.ChunkedArray | pa.Array) -> np.ndarray:
    """Per-row sum of ERROR_CODES over an ``_errors`` list column; an
    entry with an unknown (stage, kind, exc_class) adds 2**40, so it can
    never match."""
    if isinstance(errors, pa.ChunkedArray):
        errors = errors.combine_chunks()
    n = len(errors)
    flat = pc.list_flatten(errors)
    if len(flat) == 0:
        return np.zeros(n, np.int64)
    parents = pc.list_parent_indices(errors).to_numpy()
    keys = pc.binary_join_element_wise(
        flat.field("stage"), flat.field("kind"), flat.field("exc_class"), "/"
    )
    codes = codes_for(keys)
    return np.bincount(parents, weights=codes, minlength=n).astype(np.int64)


def codes_for(keys: pa.Array) -> np.ndarray:
    names = pa.array(["/".join(k) for k in ERROR_CODES])
    weights = np.array(list(ERROR_CODES.values()) + [2**40], np.int64)
    idx = pc.fill_null(pc.index_in(keys, value_set=names), len(names))
    return weights[idx.to_numpy()]


def mismatched_rows(exp: dict, out: pa.Table) -> int:
    """Rows of ``exp`` that ``out`` gets wrong or lacks, plus rows ``out``
    has that ``exp`` does not (a repeated id counts as an extra row).
    ``out`` needs id, x, y, z, tries, _errors."""
    out = out.sort_by("id")
    oid = out["id"].to_numpy()
    if np.array_equal(oid, exp["id"]):
        return _row_diffs(exp, out)
    uniq, first = np.unique(oid, return_index=True)
    common = np.intersect1d(uniq, exp["id"])
    keep = first[np.isin(uniq, common)]
    return (len(exp["id"]) - len(common)) + (len(oid) - len(common)) + _row_diffs(
        _restrict(exp, common), out.take(pa.array(keep)))


def _restrict(exp: dict, ids: np.ndarray) -> dict:
    m = np.isin(exp["id"], ids)
    return {k: (v[m] if isinstance(v, np.ndarray) else v) for k, v in exp.items()}


def _col(out: pa.Table, name: str, fill):
    c = out[name]
    return pc.is_valid(c).to_numpy(zero_copy_only=False), pc.fill_null(c, fill).to_numpy()


def _row_diffs(exp: dict, out: pa.Table) -> int:
    bad = np.zeros(len(exp["id"]), bool)
    for name, fill in (("x", 0), ("y", 0.0), ("z", 0)):
        valid, vals = _col(out, name, fill)
        ok = exp[f"{name}_ok"]
        bad |= valid != ok
        bad |= ok & (vals != exp[name])
    _, tries = _col(out, "tries", 0)
    bad |= tries != exp["tries"]
    bad |= error_signature(out["_errors"]) != exp["sig"]
    return int(bad.sum())


def wide_items(n: int, seed: int) -> tuple[pa.Table, dict]:
    """Wide text items of about 1 KB (id, text), and per id the expected
    (n_words, first word) pair."""
    rng = np.random.default_rng(seed)
    words = np.array(_WORDS, dtype=object)
    lens = rng.integers(150, 200, n)
    ids = rng.permutation(n).astype(np.int64)
    flat = words[rng.integers(0, len(words), int(lens.sum()))]
    texts, expected = [], {}
    pos = 0
    for i, ln in zip(ids.tolist(), lens.tolist()):
        chunk = flat[pos : pos + ln]
        pos += ln
        texts.append(" ".join(chunk))
        expected[i] = (ln, chunk[0])
    return pa.table({"id": pa.array(ids), "text": pa.array(texts, pa.string())}), expected


def expected_wide_payload(n_words: int, first: str, text_len: int) -> dict:
    """The payload Tokenize -> Tagger leaves on a wide item (text aside)."""
    return {
        "n_words": n_words,
        "first": first,
        f"kw_{n_words % 5}": first.upper(),
        "len_bucket": str(text_len // 256),
    }
