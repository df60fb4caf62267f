"""Seed-fuzzed fixture generator for the oracle-parity sweep (judge r12
Next #1).

The driver's fixtures are deterministic (seed=42), so the oracle gate
witnesses one fixed set of values forever — value classes the fixtures
never produce (tie-repr doubles, negative accumulators, HALF_UP
boundaries, whitespace-run tokens, duplicate/zero embedding vectors)
pass silently until a code review trips over them; the r11/r12 sweeps
kept finding real instances of exactly this. This script PERTURBS the
driver fixtures under a new seed while preserving everything the
queries structurally rely on:

- every key column (primary + foreign) is byte-identical → joins keep
  their selectivity and referential integrity;
- row counts, schemas (incl. timestamp[us] / int32 / float32 list)
  and enum domains are unchanged;
- only VALUE columns are perturbed, with deliberate injection of the
  recurring cross-engine divergence classes (SCALING.md ledger):
    * money: jitter, 3-decimal tie-prone cents, negatives, x1000
      magnitude outliers (round()/float-checksum class);
    * dates/timestamps: re-draws plus forced exact ties (ordering /
      dedup tie-break class);
    * discounts/taxes: .045/.055 half-unit boundaries (HALF_UP class);
    * events.value: negatives (the floor-vs-trunc accumulator class);
    * documents.text: token edits, exact duplicates, whitespace runs
      with tabs/newlines, empty docs (tokenizer WS_CLASS class);
      n_chars stays = length(text);
    * embeddings: component jitter, exact-duplicate vectors (distance
      ties), zero vectors (norm-division guard class);
    * props JSON: huge/negative ks (2^53 / int-coercion class).

Because engine AND oracle read the same perturbed parquet, any parity
mismatch under a fuzz seed is a genuine cross-engine semantics gap —
never fuzzer noise. Pinned-literal oracles (spec.oracle_sf set: q69 et
al.) embed seed-42 values by design; the sweep exempts them via
SPARK_GRAFT_FUZZ_SWEEP=1 (see tests/test_oracle.py), and any future
fixture REGENERATION must re-derive those literals by re-running their
builders at the recorded scale (documented in SCALING.md r13).

Usage:
    python scripts/gen_fuzz.py SEED OUT_DIR [SRC_ROOT]

writes OUT_DIR/smoke/*.parquet   (perturbed from SRC_ROOT/sf0.001)
       OUT_DIR/oracle/*.parquet  (perturbed from SRC_ROOT/sf0.01)

The output dir names deliberately do NOT end in "sf0.001"/"sf0.01" so
nothing mistakes them for driver fixtures. Run the sweep with:

    SPARK_GRAFT_FUZZ_SWEEP=1 \
    SPARK_GRAFT_TEST_SF_DIR=OUT_DIR/smoke \
    SPARK_GRAFT_ORACLE_SF_DIR=OUT_DIR/oracle \
    SPARK_GRAFT_TEST_FULL=1 python -m pytest tests/test_oracle.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

US = np.int64(1)  # timestamps handled as int64 microseconds throughout


def _money(rng: np.random.Generator, vals: np.ndarray) -> np.ndarray:
    """Money-column perturbation: jitter + tie-prone 3dp + negatives +
    magnitude outliers. Input 2dp doubles; output mostly 2dp."""
    out = np.round(vals * rng.uniform(0.5, 1.5, len(vals)), 2)
    n = len(out)
    tie = rng.random(n) < 0.02          # x.xx5 — repr/rounding ties
    out[tie] = np.round(out[tie], 0) + rng.integers(0, 1000, tie.sum()) / 100.0 + 0.005
    neg = rng.random(n) < 0.03
    out[neg] = -np.abs(out[neg])
    big = rng.random(n) < 0.01          # magnitude: stress bigint-micros bounds
    out[big] = np.round(out[big] * 1000.0, 2)
    return out


def _redraw(rng, col: np.ndarray, rate: float = 0.10) -> np.ndarray:
    """Re-draw ``rate`` of the rows from the column's own observed
    domain (uniform) — keeps enum domains closed while shifting group
    sizes and creating fresh tie patterns."""
    out = col.copy()
    domain = np.unique(col)
    mask = rng.random(len(col)) < rate
    out[mask] = rng.choice(domain, mask.sum())
    return out


def _ts_us(arr: pa.ChunkedArray) -> np.ndarray:
    return arr.combine_chunks().cast(pa.int64()).to_numpy()


def _force_ties(rng, vals: np.ndarray, rate: float) -> np.ndarray:
    """Copy ``rate`` of the values from other random rows — forces
    exact collisions (the ordering/dedup tie-break witness)."""
    out = vals.copy()
    n = len(out)
    mask = rng.random(n) < rate
    out[mask] = out[rng.integers(0, n, mask.sum())]
    return out


def fuzz_table(name: str, tbl: pa.Table, seed: int) -> pa.Table:
    import zlib

    rng = np.random.default_rng((seed, zlib.crc32(name.encode())))
    cols = {c: tbl.column(c) for c in tbl.column_names}
    out: dict[str, object] = {}

    def num(c):  # noqa: ANN001
        return cols[c].combine_chunks().to_numpy(zero_copy_only=False)

    def strs(c):  # noqa: ANN001
        return np.array(cols[c].to_pylist(), dtype=object)

    if name in ("region", "nation"):
        return tbl  # pure key/name dims — nothing value-shaped to fuzz

    if name == "customer":
        out["c_acctbal"] = _money(rng, num("c_acctbal"))
        out["c_mktsegment"] = _redraw(rng, strs("c_mktsegment"))
    elif name == "supplier":
        out["s_acctbal"] = _money(rng, num("s_acctbal"))
    elif name == "part":
        out["p_retailprice"] = _money(rng, num("p_retailprice"))
        size = num("p_size").copy()
        mask = rng.random(len(size)) < 0.10
        size[mask] = rng.integers(1, 51, mask.sum())
        out["p_size"] = size
        out["p_brand"] = _redraw(rng, strs("p_brand"))
        out["p_type"] = _redraw(rng, strs("p_type"))
    elif name == "orders":
        out["o_totalprice"] = _money(rng, num("o_totalprice"))
        out["o_orderstatus"] = _redraw(rng, strs("o_orderstatus"))
        out["o_orderpriority"] = _redraw(rng, strs("o_orderpriority"))
        d = _ts_us(cols["o_orderdate"])
        lo, hi = d.min(), d.max()
        day = 86_400_000_000
        mask = rng.random(len(d)) < 0.10   # re-draw, midnight-aligned
        d = d.copy()
        d[mask] = lo + rng.integers(0, (hi - lo) // day + 1, mask.sum()) * day
        d = _force_ties(rng, d, 0.03)
        out["o_orderdate"] = d
    elif name == "lineitem":
        out["l_extendedprice"] = _money(rng, num("l_extendedprice"))
        q = num("l_quantity").copy()
        mask = rng.random(len(q)) < 0.10
        q[mask] = rng.integers(1, 51, mask.sum()).astype(float)
        half = rng.random(len(q)) < 0.02   # fractional quantities
        q[half] = q[half] + 0.5
        out["l_quantity"] = q
        for c in ("l_discount", "l_tax"):
            v = num(c).copy()
            mask = rng.random(len(v)) < 0.10
            v[mask] = rng.integers(0, 11, mask.sum()) / 100.0
            bound = rng.random(len(v)) < 0.02   # HALF_UP witnesses
            v[bound] = rng.choice([0.045, 0.055, 0.005], bound.sum())
            out[c] = v
        rf, ls = strs("l_returnflag"), strs("l_linestatus")
        pairs = np.unique(np.char.add(rf.astype(str), ls.astype(str)))
        mask = rng.random(len(rf)) < 0.10   # joint re-draw keeps pair domain
        pick = rng.choice(pairs, mask.sum())
        rf[mask] = [p[0] for p in pick]
        ls[mask] = [p[1] for p in pick]
        out["l_returnflag"], out["l_linestatus"] = rf, ls
        d = _ts_us(cols["l_shipdate"])
        lo, hi = d.min(), d.max()
        day = 86_400_000_000
        mask = rng.random(len(d)) < 0.10
        d = d.copy()
        d[mask] = lo + rng.integers(0, (hi - lo) // day + 1, mask.sum()) * day
        out["l_shipdate"] = _force_ties(rng, d, 0.03)
    elif name == "events":
        v = num("value") * rng.uniform(0.5, 1.5, tbl.num_rows)
        v = np.round(v, 2)
        neg = rng.random(len(v)) < 0.05    # negative accumulators
        v[neg] = -np.abs(v[neg])
        tie = rng.random(len(v)) < 0.02
        v[tie] = np.round(v[tie], 0) + 0.005
        big = rng.random(len(v)) < 0.005
        v[big] = np.round(v[big] * 1000.0, 2)
        out["value"] = v
        out["event_type"] = _redraw(rng, strs("event_type"))
        ts = _ts_us(cols["ts"]).copy()
        jit = rng.integers(-3_600_000_000, 3_600_000_000, len(ts))
        mask = rng.random(len(ts)) < 0.30
        ts[mask] = ts[mask] + jit[mask]
        out["ts"] = _force_ties(rng, ts, 0.03)   # exact-tie timestamps
        k = rng.random(tbl.num_rows)
        props = strs("props").copy()
        huge = k < 0.03                     # 2^53-adjacent / negative ks
        props[huge] = [
            '{"k": %d}' % int(x)
            for x in rng.choice(
                [2**53 + 1, -(2**53) - 1, 9_007_199_254_740_993, -7],
                huge.sum(),
            )
        ]
        out["props"] = props
    elif name == "documents":
        txt = strs("text").copy()
        n = len(txt)
        dup = rng.random(n) < 0.01          # exact duplicates
        txt[dup] = txt[rng.integers(0, n, dup.sum())]
        edit = rng.random(n) < 0.05         # near-dup token edits
        for i in np.nonzero(edit)[0]:
            toks = txt[i].split(" ")
            if len(toks) > 3:
                j = rng.integers(0, len(toks))
                toks = toks[:j] + toks[j + 1:] if rng.random() < 0.5 else (
                    toks[:j] + [toks[j]] + toks[j:])
                txt[i] = " ".join(toks)
        ws = rng.random(n) < 0.02           # whitespace-run stress
        for i in np.nonzero(ws)[0]:
            t = txt[i].replace(" ", "  ", 3).replace("  ", " \t", 1)
            txt[i] = " " + t + "\n"
        empty = rng.random(n) < 0.005
        txt[empty] = ""
        out["text"] = txt
        out["n_chars"] = np.array([len(t) for t in txt], dtype=np.int64)
        out["lang"] = _redraw(rng, strs("lang"))
        out["source"] = _redraw(rng, strs("source"))
    elif name == "embeddings":
        vecs = np.array(cols["embedding"].to_pylist(), dtype=np.float32)
        vecs = vecs * (1.0 + rng.normal(0, 0.05, vecs.shape)).astype(np.float32)
        n = len(vecs)
        dup = rng.random(n) < 0.01          # exact-duplicate vectors
        vecs[dup] = vecs[rng.integers(0, n, dup.sum())]
        # NEAR-zero vectors (norm > 0, but every component quantises to
        # floor(x*1e6) ∈ {-1, 0}) — stresses quantised-norm guards.
        # True zero vectors are deliberately NOT injected: DuckDB's
        # x/0 → NULL vs Spark ANSI semantics make them out-of-contract
        # for the oracle twins (the ENGINE still guards them; see
        # operators/similarity.py assign_cells/cosine_hoisted).
        tiny = rng.random(n) < 0.01
        vecs[tiny] = (vecs[tiny] * np.float32(1e-8)).astype(np.float32)
        out["embedding"] = list(vecs)
        lab = num("label").copy()
        mask = rng.random(n) < 0.10
        lab[mask] = rng.choice(np.unique(lab), mask.sum())
        out["label"] = lab

    arrays = []
    for field in tbl.schema:
        if field.name in out:
            v = out[field.name]
            if pa.types.is_timestamp(field.type):
                arrays.append(pa.array(v, pa.int64()).cast(field.type))
            elif pa.types.is_list(field.type):
                arrays.append(pa.array(
                    [list(map(float, row)) for row in v], field.type))
            else:
                arrays.append(pa.array(v).cast(field.type))
        else:
            arrays.append(tbl.column(field.name).combine_chunks())
    return pa.table(dict(zip(tbl.column_names, arrays)), schema=pa.schema(
        [tbl.schema.field(i).remove_metadata() for i in range(len(tbl.schema))]
    ))


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    seed = int(sys.argv[1])
    out_root = sys.argv[2]
    src_root = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata"
    for src_sf, out_name in (("sf0.001", "smoke"), ("sf0.01", "oracle")):
        dst = os.path.join(out_root, out_name)
        os.makedirs(dst, exist_ok=True)
        for t in TABLES:
            src = os.path.join(src_root, src_sf, f"{t}.parquet")
            fuzzed = fuzz_table(t, pq.read_table(src), seed)
            pq.write_table(fuzzed, os.path.join(dst, f"{t}.parquet"))
        print(f"seed={seed}: wrote {dst}")


if __name__ == "__main__":
    main()
