"""Fuzzed-slice oracle parity: re-run the Spark-vs-DuckDB gate on a
deterministically SAMPLED copy of the testdata.

The per-round driver gate and the local `check_parity` gate both run
against the fixed seed-42 fixture — a query pair that is accidentally
tuned to that fixture (a constant that only holds at this row count, a
branch only one fixture row exercises, an ordering tie the fixture
never produces) passes them forever. This tool perturbs the DATA
instead of the query: fact tables are filtered by a keyed multiplicative
hash (`(key * 2654435761 + seed * 40503) % 1000 < keep‰`), dimension
tables stay full, and `lineitem` follows `orders` via the SAME predicate
on `l_orderkey`, so FK joins stay consistent. Both engines then see the
identical slice, and every registered query must still match its oracle
bitwise.

Any keep-fraction/seed must pass — a failure here is a genuine
data-dependent parity bug even though the stock gate is green.

    PYTHONPATH=. python tools/fuzz_parity.py /root/testdata/sf0.001 \
        --seed 1 --keep 700 [--nullify table.column=permille ...] \
        [--nullgroup table.keycol.valcol=permille ...] \
        [--dupkey table.column=permille ...] [--duprows table=permille ...] \
        [--extval table.column.kind=permille ...] \
        [--nullprobe] [--scramble] [--raise-symmetric] [--window] [qid ...]

With no qids: every registered query. `--window` adds the driver's
50-qid window. `--nullify` sets that permille of the (fact) table's
rows to NULL in the named column — the testdata is NULL-free, so this
is the only slice shape that pushes NULLs through both engines'
aggregate/sort/window NULL semantics at once. `--nullprobe` adds a
tool-local oracle pair (x_null_leading_running, not in the frozen
registry) that drives global_running_sum over a ~40% all-NULL LEADING
sort prefix — the distributed NULL-recombination branch. `--scramble`
deterministically permutes each fact table's row order (same row SET)
— catches queries whose output values depend on the fixture's
accidental key-ordered layout (untiebroken first/limit picks), which
are nondeterministic at scale where split order is a scheduling
accident. The slice is materialized under /tmp/metoffice_fuzz/ with
the source parquet schemas preserved (pyarrow round-trip, so e.g. the
events timestamp[us] physical type survives).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# fact table -> sampling key. lineitem deliberately keys on l_orderkey
# (not its own row id) so an order keeps either all or none of its
# lines; documents/embeddings sample independently (no FK between them
# is assumed anywhere: sim-search queries join on vec_id only).
SAMPLED = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# Dimension-table PKs, used ONLY to key --nullify mutation masks
# (r10): dims stay FULL (never sampled/duplicated — at 100 TB they
# are the curated side), but their ATTRIBUTE columns are a real
# defect surface (a NULL c_acctbal/s_comment/p_type reaches every
# star join, LIKE filter, and balance aggregate) that no probe had
# ever pushed NULLs through.
DIM_KEYS = {
    "customer": "c_custkey",
    "part": "p_partkey",
    "supplier": "s_suppkey",
    "nation": "n_nationkey",
    "region": "r_regionkey",
}

_MIX = np.uint64(2654435761)


def _int_keys(col: "pa.ChunkedArray", what: str) -> np.ndarray:
    """Key column → int ndarray for hashing, REFUSING nulls: a nulled
    id (source nulls, or --nullify composed on the same column) comes
    back from to_numpy as float NaN, and NaN→uint64 is
    platform-undefined — the mutation mask would be nondeterministic
    (ADVICE r09 item 3). Compose the axes the other way around
    (dup/sample first, nullify after) or pick a non-null key."""
    if col.null_count:
        raise SystemExit(
            f"{what}: key column contains {col.null_count} null(s); "
            "hashing NULL ids is undefined — nullify a different column "
            "or order the composition so ids are intact when hashed"
        )
    return col.to_numpy()


def _keep_mask(keys: np.ndarray, seed: int, keep_permille: int) -> np.ndarray:
    # splitmix64 avalanche (r10): the original affine hash
    # ((k*MIX + seed*c) % 1000) made every "decorrelated" mask a mere
    # CONSTANT SHIFT of the keep mask — conditioned on keep<1000‰, a
    # secondary mask's hit set is an interval that can MISS its target
    # permille band entirely (the r09 stress battery's nullify axes at
    # keep=500 selected 0 rows — mutations silently absent). A full
    # avalanche makes masks at different seeds genuinely independent.
    k = keys.astype(np.uint64)
    with np.errstate(over="ignore"):
        z = (k + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)) * _MIX
        z ^= z >> np.uint64(30)
        z *= np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
        h = z % np.uint64(1000)
    return h < np.uint64(keep_permille)


def materialize_slice(
    src_dir: str,
    seed: int,
    keep_permille: int,
    nullify: dict[tuple[str, str], int] | None = None,
    scramble: bool = False,
    dupkey: dict[tuple[str, str], int] | None = None,
    duprows: dict[str, int] | None = None,
    nullgroup: dict[tuple[str, str, str], int] | None = None,
    extval: dict[tuple[str, str, str], int] | None = None,
) -> str:
    """Write the sampled copy of ``src_dir`` and return its path.

    ``nullify`` maps (table, column) -> permille: after sampling, that
    fraction of the table's rows (selected by the same keyed hash, at
    a decorrelated seed) get the column set to NULL. The testdata is
    NULL-free by construction, so this is the only way a fuzzed slice
    can push NULLs through aggregate/sort/window NULL semantics on
    BOTH engines at once (VERDICT r06 item 5).

    ``scramble`` deterministically permutes every fact table's ROW
    ORDER (sort by the keyed hash at a decorrelated seed) without
    changing its row SET. The driver fixture happens to be written in
    key order; a query whose output VALUES depend on input order — an
    untiebroken first/limit pick, an order-sensitive aggregate — is
    nondeterministic at scale (parquet split order is a scheduling
    accident) yet passes every same-order gate. Against a scrambled
    slice both engines still see identical bytes, so any mismatch vs
    the same-order run is a genuine order-dependence bug.

    ``dupkey`` maps (table, column) -> permille: that fraction of the
    table's rows (decorrelated keyed hash) get their id column REMAPPED
    to the next-lower id that exists in the slice — producing genuine
    duplicate ids carried by rows with DIFFERENT payloads (ts, value,
    ...). This violates the fixture's id-uniqueness premise behind the
    (ts, event_id) total-order tie-breaks (VERDICT r08 item 2): with
    distinct ts per holder the tie-break order stays total, so the
    contract decision is DEFINED SEMANTICS — every query must still
    match its oracle bitwise, and a divergence is a real hidden
    uniqueness assumption (a join that multiplies, a dedup that keeps
    the wrong row, a searchsorted kernel that assumed strict keys).

    ``duprows`` maps table -> permille: that fraction of rows is
    APPENDED as exact byte-identical copies — exact (ts, id) ordering
    ties with identical payloads. Contract: a total-order pick between
    identical rows is pick-invariant, so parity must hold here too;
    engines diverging means a kernel leaked a physical row identity
    (pandas index, monotonically_increasing_id) into its output.

    ``nullgroup`` maps (table, keycol, valcol) -> permille: that
    fraction of KEY GROUPS (selected by hashing the group-key VALUE,
    so every row of a group gets the same verdict) gets ``valcol`` set
    to NULL in ALL its rows — the all-NULL-per-key slice shape
    (VERDICT r09 item 1) that i.i.d. ``nullify`` essentially never
    produces for multi-row keys. This is the rank-validity stressor: a
    customer whose EVERY order is unpriced / a part whose EVERY line
    is unpriced must drop out of ntile/running-sum rankings
    IDENTICALLY on both engines (without a validity boundary, Spark's
    NULLS FIRST vs DuckDB's NULLS LAST shifts every quantile cut)."""
    from metoffice_spark.io import TABLES, table_path

    nullify = nullify or {}
    dupkey = dupkey or {}
    duprows = duprows or {}
    nullgroup = nullgroup or {}
    extval = extval or {}
    tag = "".join(
        f"_n{t}.{c}.{p}" for (t, c), p in sorted(nullify.items())
    )
    tag += "".join(
        f"_x{t}.{c}.{k}.{p}" for (t, c, k), p in sorted(extval.items())
    )
    tag += "".join(
        f"_g{t}.{k}.{c}.{p}" for (t, k, c), p in sorted(nullgroup.items())
    )
    tag += "".join(
        f"_dk{t}.{c}.{p}" for (t, c), p in sorted(dupkey.items())
    )
    tag += "".join(f"_dr{t}.{p}" for t, p in sorted(duprows.items()))
    if scramble:
        tag += "_scram"
    base = f"{os.path.basename(os.path.normpath(src_dir))}_s{seed}_k{keep_permille}{tag}"
    if len(base) > 180:
        # heavily composed batteries overflow the 255-byte filename
        # limit; keep a readable prefix + a deterministic digest of
        # the full spec (same spec -> same dir, still cacheable)
        import hashlib

        base = f"{base[:140]}_x{hashlib.md5(base.encode()).hexdigest()[:12]}"
    out = os.path.join("/tmp/metoffice_fuzz", base)
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        src = table_path(src_dir, t)
        dst = table_path(out, t)
        tbl = pq.read_table(src)
        key = SAMPLED.get(t)
        if key is not None:
            mask = _keep_mask(_int_keys(tbl.column(key), f"sample {t}.{key}"), seed, keep_permille)
            tbl = tbl.filter(pa.array(mask))
        if scramble and key is not None:
            k = _int_keys(tbl.column(key), f"scramble {t}.{key}").astype(np.uint64)
            with np.errstate(over="ignore"):
                # & 2^32-1: force the multiplicative wraparound — for
                # small keys k * MIX never overflows uint64, leaving h
                # MONOTONIC in k (i.e. not a scramble at all)
                h = (k * _MIX + np.uint64(seed * 58321 + 11)) & np.uint64(
                    0xFFFFFFFF
                )
            # stable argsort on (hash, row-index): a full deterministic
            # permutation even when hashes collide across equal keys
            order = np.lexsort((np.arange(len(k)), h))
            tbl = tbl.take(pa.array(order))
        # Mutation ORDER (r10, VERDICT r09 item 4): dup axes FIRST
        # (they hash id columns, which must be intact), then
        # nullgroup (hashes group-key columns), then nullify LAST —
        # so --nullify can target the id columns themselves composed
        # with --dupkey/--duprows on the same table. Masks keyed on a
        # dupkey-remapped id give both holders of a remapped id the
        # same verdict; duprows copies inherit their original's
        # verdict (same key hash) — both deterministic.
        for (dt, dc), permille in dupkey.items():
            if dt != t:
                continue
            if key is None:
                raise SystemExit(f"--dupkey only supports fact tables, not {t!r}")
            keys = _int_keys(tbl.column(dc), f"dupkey {t}.{dc}")
            dmask = _keep_mask(keys, seed * 17 + 3, permille)
            uniq = np.sort(np.unique(keys))
            pos = np.searchsorted(uniq, keys, side="left")
            # remap each selected row's id to the NEXT-LOWER id present
            # in the slice; the minimum id's holders keep theirs (no
            # lower neighbor exists). Deterministic, engine-agnostic.
            sel = dmask & (pos > 0)
            newkeys = keys.copy()
            newkeys[sel] = uniq[pos[sel] - 1]
            idx = tbl.schema.get_field_index(dc)
            field = tbl.schema.field(idx)
            tbl = tbl.set_column(
                idx, field, pa.array(newkeys, type=field.type)
            )
        if t in duprows:
            if key is None:
                raise SystemExit(
                    f"--duprows only supports fact tables, not {t!r}"
                )
            rmask = _keep_mask(
                _int_keys(tbl.column(key), f"duprows {t}.{key}"),
                seed * 13 + 5,
                duprows[t],
            )
            copies = tbl.filter(pa.array(rmask))
            tbl = pa.concat_tables([tbl, copies])
        for (gt, gk, gc), permille in nullgroup.items():
            if gt != t:
                continue
            if key is None:
                raise SystemExit(
                    f"--nullgroup only supports fact tables, not {t!r}"
                )
            # hash the GROUP KEY value itself: every row of a group
            # shares the hash, so selection is whole-group by
            # construction. Seed decorrelated from every other axis
            # AND from sibling nullgroup specs on the same key column
            # (mix in the value-column name) so composing e.g.
            # o_totalprice + o_orderdate doesn't null the exact same
            # customers unless the hash says so.
            gseed = seed * 23 + 11 + sum(gc.encode()) % 997
            gmask = _keep_mask(
                _int_keys(tbl.column(gk), f"nullgroup {t}.{gk}"),
                gseed,
                permille,
            )
            idx = tbl.schema.get_field_index(gc)
            field = tbl.schema.field(idx)
            import pyarrow.compute as pc

            nulled = pc.if_else(
                pa.array(~gmask), tbl.column(gc), pa.scalar(None, field.type)
            )
            tbl = tbl.set_column(idx, field, nulled)
        # --extval (r10 wave 2): overwrite that permille of rows'
        # column with an EXTREME VALUE instead of NULL — the corrupt-
        # upstream shapes a 100 TB ingest actually sees and that no
        # NULL probe can reach: non-finite doubles (NaN/±Inf, where the
        # engines' cast/floor/stddev semantics genuinely differ),
        # domain-violating finite values (negated / zeroed money), and
        # degenerate strings (empty "" and whitespace-only, which are
        # NOT NULL and take the non-null branch of every boundary).
        t_extval = [
            (ec, kind, p)
            for (et, ec, kind), p in sorted(extval.items())
            if et == t
        ]
        if t_extval:
            ekey = key if key is not None else DIM_KEYS.get(t)
            if ekey is None:
                raise SystemExit(f"--extval: no hash key known for {t!r}")
            ekeys = _int_keys(tbl.column(ekey), f"extval {t}.{ekey}")
            import pyarrow.compute as pc

            for ec, kind, permille in t_extval:
                emask = _keep_mask(
                    ekeys,
                    seed * 47 + 29 + sum(f"{ec}.{kind}".encode()) % 9973,
                    permille,
                )
                idx = tbl.schema.get_field_index(ec)
                field = tbl.schema.field(idx)
                if kind in ("nan", "inf", "neginf", "zero", "negzero"):
                    if not pa.types.is_floating(field.type):
                        raise SystemExit(
                            f"--extval {kind} needs a float column, "
                            f"{t}.{ec} is {field.type}"
                        )
                    val = {
                        "nan": float("nan"),
                        "inf": float("inf"),
                        "neginf": float("-inf"),
                        "zero": 0.0,
                        # negzero (r13): IEEE -0.0 — compares equal
                        # to +0.0 but carries a distinct bit pattern,
                        # probing the engines' float-key
                        # normalization (Spark normalizes -0.0 in
                        # group/join keys; a hash- or format-level
                        # fork elsewhere would be silent)
                        "negzero": -0.0,
                    }[kind]
                    mutated = pc.if_else(
                        pa.array(~emask),
                        tbl.column(ec),
                        pa.scalar(val, field.type),
                    )
                elif kind == "huge":
                    # huge-FINITE money word (r12, ADVICE r10 item 2):
                    # 1e17 is finite (passes every abs(x) < inf guard)
                    # but its fixed-point scaling overflows int64 at
                    # every cents scale in use (1e17*100 = 1e19 >
                    # 2^63). The first registry-wide run of this kind
                    # (under --raise-symmetric) FALSIFIED the r11
                    # "loud symmetric crash" contract: Spark's
                    # floor(double)->LONG saturates SILENTLY where
                    # DuckDB's cast raises — 13 asymmetric
                    # divergences (FUZZPARITY_r12_exthuge). Since r12
                    # the word is QUARANTINED to NULL at every
                    # fixed-point guard (FIXED_POINT_MAX = 9.0e12,
                    # parity.py) and DETECTED by q_dq_checks, so this
                    # kind must now pass PLAIN parity registry-wide.
                    # --raise-symmetric remains available as the
                    # adjudication mode for any future crash-contract
                    # probe.
                    if not pa.types.is_floating(field.type):
                        raise SystemExit(
                            f"--extval huge needs a float column, "
                            f"{t}.{ec} is {field.type}"
                        )
                    mutated = pc.if_else(
                        pa.array(~emask),
                        tbl.column(ec),
                        pa.scalar(1.0e17, field.type),
                    )
                elif kind == "neg":
                    if not pa.types.is_floating(field.type):
                        raise SystemExit(
                            f"--extval neg needs a float column, "
                            f"{t}.{ec} is {field.type}"
                        )
                    mutated = pc.if_else(
                        pa.array(~emask),
                        tbl.column(ec),
                        pc.negate_checked(tbl.column(ec)),
                    )
                elif kind == "dimvec":
                    # wrong-LENGTH vectors (r13, SURVEY candidate
                    # axis): a corrupt encoder can also emit the wrong
                    # DIMENSION — truncated (63, 16), padded (65), or
                    # empty (0) vectors whose components are all
                    # individually in-band. Probes the gap between
                    # component-validity and shape-validity: Spark's
                    # zip_with NULL-pads the short side (NULL dot),
                    # DuckDB's range(len(a)) indexing yields NULLs
                    # that list_aggregate('sum') IGNORES (partial
                    # dot) — a silent asymmetric class unless the
                    # substrate quarantines on dimension.
                    if not (
                        pa.types.is_list(field.type)
                        and pa.types.is_floating(field.type.value_type)
                    ):
                        raise SystemExit(
                            f"--extval {kind} needs a list<float> column, "
                            f"{t}.{ec} is {field.type}"
                        )
                    rows = tbl.column(ec).to_pylist()
                    out_rows = []
                    for ri, (hit, vec) in enumerate(zip(emask, rows)):
                        if not hit or vec is None:
                            out_rows.append(vec)
                            continue
                        k = int(ekeys[ri])
                        shape = k % 4
                        if shape == 0:
                            out_rows.append(vec[:-1])  # 63: off-by-one
                        elif shape == 1:
                            out_rows.append(vec + [0.25])  # 65: padded
                        elif shape == 2:
                            out_rows.append(vec[: max(1, len(vec) // 4)])
                        else:
                            out_rows.append([])  # empty vector
                    mutated = pa.array(out_rows, type=field.type)
                elif kind == "idneg":
                    # NEGATIVE ids (r13): ids are opaque int words —
                    # nothing entitles an operator to assume a sign.
                    # Negating a slice of them probes every id
                    # arithmetic site at once: modulo-derived
                    # stations/sectors/shards (both engines keep the
                    # dividend sign), truncating integer division
                    # (Spark `div` and DuckDB `//` both truncate
                    # toward zero — micro-probed), hash masks, and
                    # FK joins (a negated key simply stops matching,
                    # identically on both engines).
                    if not pa.types.is_integer(field.type):
                        raise SystemExit(
                            f"--extval idneg needs an int column, "
                            f"{t}.{ec} is {field.type}"
                        )
                    mutated = pc.if_else(
                        pa.array(~emask),
                        tbl.column(ec),
                        pc.negate_checked(tbl.column(ec)),
                    )
                elif kind == "nulvec":
                    # NULL COMPONENTS inside otherwise-valid vectors
                    # (r13): the whole-vector NULL shape is probed
                    # since r07, but a component-level NULL reaches a
                    # different fork — Spark's aggregate() lambda sum
                    # NULL-poisons (a + NULL = NULL ⇒ NULL norm)
                    # while DuckDB's list_aggregate('sum') IGNORES
                    # NULLs (partial norm over the non-NULL words).
                    # Same mutation pattern as nanvec: ~1/4 of the
                    # selected rows' components become NULL.
                    if not (
                        pa.types.is_list(field.type)
                        and pa.types.is_floating(field.type.value_type)
                    ):
                        raise SystemExit(
                            f"--extval {kind} needs a list<float> column, "
                            f"{t}.{ec} is {field.type}"
                        )
                    rows = tbl.column(ec).to_pylist()
                    out_rows = []
                    for ri, (hit, vec) in enumerate(zip(emask, rows)):
                        if not hit or vec is None:
                            out_rows.append(vec)
                            continue
                        k = int(ekeys[ri])
                        out_rows.append(
                            [
                                None if (k * 31 + i) % 4 == 0 else v
                                for i, v in enumerate(vec)
                            ]
                        )
                    mutated = pa.array(out_rows, type=field.type)
                elif kind in ("nanvec", "hugevec", "bigvec"):
                    # corrupt-encoder shapes on the list<float> axis
                    # no scalar kind reaches. nanvec: in selected
                    # rows, a hash-chosen ~1/4 of the embedding's
                    # components become NaN (failed encoder words).
                    # hugevec (r13, VERDICT r12 item 2): the same
                    # component pattern becomes HUGE-FINITE (1e17) —
                    # passes every is-finite test, but any fixed-point
                    # scaling, dot product, or norm that consumes it
                    # must hit the _ivec substrate bound (parity.py
                    # FIXED_POINT_MAX) and quarantine the VECTOR, not
                    # saturate int64 asymmetrically the way the
                    # scalar `huge` kind proved Spark's floor->LONG
                    # does. float32 storage widens 1e17 to
                    # 9.9999998e16 identically on both engines.
                    if not (
                        pa.types.is_list(field.type)
                        and pa.types.is_floating(field.type.value_type)
                    ):
                        raise SystemExit(
                            f"--extval {kind} needs a list<float> column, "
                            f"{t}.{ec} is {field.type}"
                        )
                    bad = {
                        "nanvec": float("nan"),
                        "hugevec": 1.0e17,
                        # bigvec (r13): BELOW the cast bound (passes
                        # abs(x) < 9.0e12) but far above any dot-safe
                        # magnitude — 1e9 scales to 1e15, whose square
                        # overflows int64 in every NORM2/DOT consumer.
                        # Probes the gap between cast-validity and
                        # consumability.
                        "bigvec": 1.0e9,
                    }[kind]
                    rows = tbl.column(ec).to_pylist()
                    out_rows = []
                    for ri, (hit, vec) in enumerate(zip(emask, rows)):
                        if not hit or vec is None:
                            out_rows.append(vec)
                            continue
                        k = int(ekeys[ri])
                        out_rows.append(
                            [
                                bad if (k * 31 + i) % 4 == 0 else v
                                for i, v in enumerate(vec)
                            ]
                        )
                    mutated = pa.array(out_rows, type=field.type)
                elif kind in ("tshorizon", "tshorizon_out"):
                    # time-bounds horizon EDGES (r12, VERDICT r11 item
                    # 7): the obs substrate quarantines timestamps
                    # outside the half-open validity horizon
                    # [2000-01-01, 2100-01-01) (obs.py). Each selected
                    # row gets one of the four boundary stamps, key-
                    # hash-chosen: exactly AT the lower bound (IN), at
                    # the last representable second below the upper
                    # bound (IN), one second below the lower bound
                    # (OUT), and exactly AT the upper bound (OUT —
                    # half-open). Locks the boundary bitwise on both
                    # engines instead of arguing it from the two far
                    # sentinels epoch0/tsfar.
                    if not pa.types.is_timestamp(field.type):
                        raise SystemExit(
                            f"--extval tshorizon needs a timestamp column, "
                            f"{t}.{ec} is {field.type}"
                        )
                    import datetime as _dt

                    # tshorizon_out: only the two OUT stamps — locks the
                    # half-open quarantine boundary WITHOUT the IN
                    # stamps that stretch per-station grids to a
                    # century (the cheap variant the pinned pytest
                    # slices use for the two grid exploders; the full
                    # 4-stamp axis runs registry-wide per round)
                    _EDGES = (
                        _dt.datetime(2000, 1, 1, 0, 0, 0),      # AT min: IN
                        _dt.datetime(2099, 12, 31, 23, 59, 59), # max-1s: IN
                        _dt.datetime(1999, 12, 31, 23, 59, 59), # min-1s: OUT
                        _dt.datetime(2100, 1, 1, 0, 0, 0),      # AT max: OUT
                    )
                    if kind == "tshorizon_out":
                        _EDGES = _EDGES[2:]
                    rows = tbl.column(ec).to_pylist()
                    out_rows = []
                    for ri, (hit, ts) in enumerate(zip(emask, rows)):
                        if not hit or ts is None:
                            out_rows.append(ts)
                            continue
                        k = int(ekeys[ri])
                        out_rows.append(_EDGES[k % len(_EDGES)])
                    mutated = pa.array(out_rows, type=field.type)
                elif kind in ("epoch0", "tsfar"):
                    # time-axis extremes: the Unix epoch origin
                    # (1970-01-01, a sentinel many upstreams emit for
                    # "unknown") and a far-future stamp (2199-12-31) —
                    # both legal timestamps that stress date
                    # arithmetic, extraction, and interval logic at
                    # range ends no generated fixture reaches
                    if not pa.types.is_timestamp(field.type):
                        raise SystemExit(
                            f"--extval {kind} needs a timestamp column, "
                            f"{t}.{ec} is {field.type}"
                        )
                    import datetime as _dt

                    val = (
                        _dt.datetime(1970, 1, 1)
                        if kind == "epoch0"
                        else _dt.datetime(2199, 12, 31, 23, 59, 59)
                    )
                    mutated = pc.if_else(
                        pa.array(~emask),
                        tbl.column(ec),
                        pa.scalar(val, field.type),
                    )
                elif kind in ("empty", "blank"):
                    if not pa.types.is_string(field.type):
                        raise SystemExit(
                            f"--extval {kind} needs a string column, "
                            f"{t}.{ec} is {field.type}"
                        )
                    val = "" if kind == "empty" else " \t  "
                    mutated = pc.if_else(
                        pa.array(~emask),
                        tbl.column(ec),
                        pa.scalar(val, field.type),
                    )
                elif kind == "unicode":
                    # unicode extremes (r11): astral-plane code points
                    # (outside the BMP — ONE code point but TWO UTF-16
                    #  units on the JVM vs one UTF-8 sequence in
                    #  DuckDB: length/substring/regex off-by-ones),
                    # combining sequences (grapheme != code point),
                    # RTL runs, and ZWJ emoji families. APPENDED to
                    # the original text (not replacing it) so content-
                    # dependent derivations still vary per row; the
                    # variant is key-hash-chosen, deterministic.
                    if not pa.types.is_string(field.type):
                        raise SystemExit(
                            f"--extval unicode needs a string column, "
                            f"{t}.{ec} is {field.type}"
                        )
                    _UNI = (
                        " \U0001D11E\U0001F600 astral",          # 2 astral cps
                        " café naïve",               # combining
                        " שלום مر", # RTL run
                        " \U0001F469‍\U0001F469‍\U0001F467 zwj",
                        " ＡＢＣ full⁠width",   # fullwidth + WJ
                    )
                    rows = tbl.column(ec).to_pylist()
                    out_rows = []
                    for ri, (hit, txt) in enumerate(zip(emask, rows)):
                        if not hit or txt is None:
                            out_rows.append(txt)
                            continue
                        k = int(ekeys[ri])
                        out_rows.append(txt + _UNI[k % len(_UNI)])
                    mutated = pa.array(out_rows, type=field.type)
                else:
                    raise SystemExit(
                        f"--extval: unknown kind {kind!r}; want one of "
                        "nan|inf|neginf|neg|zero|negzero|idneg|huge|empty|blank|nanvec|hugevec|bigvec|dimvec|nulvec|epoch0|tsfar|tshorizon|tshorizon_out|unicode"
                    )
                tbl = tbl.set_column(idx, field, mutated)
        # hash the key column ONCE before any nullify mutation: a
        # nullify spec may target the key column itself, and the
        # per-column masks must all derive from the PRE-null ids
        # (hashing after a sibling spec nulled them trips _int_keys).
        t_nullify = [(nc, p) for (nt, nc), p in nullify.items() if nt == t]
        # mutation-mask key: the sampling key for fact tables, the PK
        # for dimension tables (dims are never sampled but their
        # attribute columns can be nullified — r10 dim-axis probes)
        mkey = key if key is not None else DIM_KEYS.get(t)
        if t_nullify and mkey is None:
            raise SystemExit(f"--nullify: no hash key known for {t!r}")
        nullify_keys = (
            _int_keys(tbl.column(mkey), f"nullify {t}.{mkey}")
            if t_nullify
            else None
        )
        for j, (nc, permille) in enumerate(sorted(t_nullify)):
            # per-column seed stream (avalanched, so genuinely
            # independent of the keep/dup masks AND of sibling columns)
            nmask = _keep_mask(
                nullify_keys,
                seed * 31 + 7 + 104729 * j,
                permille,
            )
            idx = tbl.schema.get_field_index(nc)
            field = tbl.schema.field(idx)
            import pyarrow.compute as pc

            nulled = pc.if_else(
                pa.array(~nmask), tbl.column(nc), pa.scalar(None, field.type)
            )
            tbl = tbl.set_column(idx, field, nulled)
        pq.write_table(tbl, dst)
    return out


def _null_leading_probe():
    """Extra oracle pair (NOT in the frozen registry): a distributed
    running sum whose value column is NULL for the leading ~40% of the
    global sort order — every range partition in that prefix carries an
    all-NULL running state, so the offsets recombination in
    ``global_order_stats`` (the __c_/__ok_ non-null-count machinery,
    distributed.py) must reproduce SQL's NULL-while-no-non-null-prefix
    semantics across partition boundaries. Unit/property tests cover
    this path on synthetic frames; this pair covers it cross-engine on
    fuzzed slices."""
    from pyspark.sql import functions as F

    def build(spark, d):
        from metoffice_spark.functions.distributed import global_running_sum
        from metoffice_spark.io import load

        # the probe targets NULL VALUES in the running sum, not NULL
        # ordering keys — a NULL user_id group would sort NULLS FIRST
        # in Spark's range partitioner and NULLS LAST in DuckDB's
        # window (r10 composed battery), which is the separate,
        # already-bounded sequencing class. Keep the axis clean.
        ev = load(spark, d, "events").filter(
            F.col("user_id").isNotNull()
        )
        per_u = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        mx = per_u.agg(F.max("user_id").alias("mx"))
        val = per_u.crossJoin(F.broadcast(mx)).select(
            "user_id",
            F.when(
                F.col("user_id") * 5 < F.col("mx") * 2,
                F.lit(None).cast("bigint"),
            )
            .otherwise(F.col("c"))
            .alias("v"),
        )
        return global_running_sum(
            val, [F.col("user_id").asc()], F.col("v"), out="cum", with_total="tot"
        ).select("user_id", "v", "cum", "tot")

    sql = """
WITH per_u AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events
  WHERE user_id IS NOT NULL GROUP BY user_id
),
mx AS (SELECT max(user_id) AS mx FROM per_u),
val AS (
  SELECT user_id,
         CASE WHEN user_id * 5 < mx * 2 THEN NULL ELSE c END AS v
  FROM per_u, mx
)
SELECT user_id, CAST(v AS BIGINT) AS v,
       CAST(sum(v) OVER (ORDER BY user_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       CAST(sum(v) OVER () AS BIGINT) AS tot
FROM val
"""
    return build, sql


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from metoffice_spark.oracle_check import compare, connect_oracle
    from metoffice_spark.registry import _collect
    from metoffice_spark.session import get_spark

    args = list(sys.argv[1:])
    src_dir = args.pop(0) if args and not args[0].startswith("--") else "/root/testdata/sf0.001"
    seed, keep = 1, 700
    if "--seed" in args:
        i = args.index("--seed"); seed = int(args[i + 1]); del args[i:i + 2]
    if "--keep" in args:
        i = args.index("--keep"); keep = int(args[i + 1]); del args[i:i + 2]
    nullify: dict[tuple[str, str], int] = {}
    while "--nullify" in args:
        i = args.index("--nullify")
        spec = args[i + 1]
        del args[i:i + 2]
        tc, _, p = spec.partition("=")
        t, _, c = tc.partition(".")
        if not (t and c and p.isdigit()):
            sys.exit(f"bad --nullify spec {spec!r}; want table.column=permille")
        nullify[(t, c)] = int(p)
    dupkey: dict[tuple[str, str], int] = {}
    while "--dupkey" in args:
        i = args.index("--dupkey")
        spec = args[i + 1]
        del args[i:i + 2]
        tc, _, p = spec.partition("=")
        t, _, c = tc.partition(".")
        if not (t and c and p.isdigit()):
            sys.exit(f"bad --dupkey spec {spec!r}; want table.column=permille")
        dupkey[(t, c)] = int(p)
    duprows: dict[str, int] = {}
    while "--duprows" in args:
        i = args.index("--duprows")
        spec = args[i + 1]
        del args[i:i + 2]
        t, _, p = spec.partition("=")
        if not (t and p.isdigit()):
            sys.exit(f"bad --duprows spec {spec!r}; want table=permille")
        duprows[t] = int(p)
    nullgroup: dict[tuple[str, str, str], int] = {}
    while "--nullgroup" in args:
        i = args.index("--nullgroup")
        spec = args[i + 1]
        del args[i:i + 2]
        tkc, _, p = spec.partition("=")
        parts = tkc.split(".")
        if len(parts) != 3 or not all(parts) or not p.isdigit():
            sys.exit(
                f"bad --nullgroup spec {spec!r}; "
                "want table.keycol.valcol=permille"
            )
        nullgroup[(parts[0], parts[1], parts[2])] = int(p)
    extval: dict[tuple[str, str, str], int] = {}
    while "--extval" in args:
        i = args.index("--extval")
        spec = args[i + 1]
        del args[i:i + 2]
        tck, _, p = spec.partition("=")
        parts = tck.split(".")
        if len(parts) != 3 or not all(parts) or not p.isdigit():
            sys.exit(
                f"bad --extval spec {spec!r}; "
                "want table.column.kind=permille "
                "(kind: nan|inf|neginf|neg|zero|negzero|idneg|huge|empty|blank|nanvec|hugevec|bigvec|dimvec|nulvec|epoch0|tsfar|tshorizon|tshorizon_out|unicode)"
            )
        extval[(parts[0], parts[1], parts[2])] = int(p)
    use_nullprobe = "--nullprobe" in args
    if use_nullprobe:
        args.remove("--nullprobe")
    # --raise-symmetric (the huge-finite axis): some extval kinds
    # inject OUT-OF-CONTRACT data whose documented surface is a LOUD
    # crash (a finite money word whose fixed-point scaling overflows
    # int64 raises the ANSI BIGINT cast where no guard applies).
    # Under this flag a qid where BOTH engines raise scores
    # RAISE-BOTH — contract-conformant: no silent wrong answer, no
    # asymmetric survival. A qid where only ONE engine raises (the
    # other silently answering) is exactly the divergence the contract
    # forbids and stays FAIL. Queries not touching the mutated column
    # must still match bitwise as usual.
    use_symraise = "--raise-symmetric" in args
    if use_symraise:
        args.remove("--raise-symmetric")
    use_scramble = "--scramble" in args
    if use_scramble:
        args.remove("--scramble")
    # --window composes with explicit qids (ADVICE r06: previously it
    # was only honored as the sole remaining token and otherwise fell
    # into the qid set, silently matching nothing).
    use_window = "--window" in args
    if use_window:
        args.remove("--window")
    registered = set(_collect())
    unknown = [a for a in args if a not in registered]
    if unknown:
        sys.exit(f"unknown qid(s): {unknown} — not in the registry")
    only = set(args)
    if use_window:
        only |= set(list(_collect())[:50])

    slice_dir = materialize_slice(
        src_dir, seed, keep, nullify, use_scramble, dupkey, duprows,
        nullgroup, extval,
    )
    print(
        f"slice: {slice_dir} (seed={seed} keep={keep}‰ of fact rows"
        f"{', scrambled row order' if use_scramble else ''}"
        + "".join(
            f", {p}‰ dup ids in {t}.{c}" for (t, c), p in sorted(dupkey.items())
        )
        + "".join(
            f", {p}‰ exact row copies in {t}" for t, p in sorted(duprows.items())
        )
        + "".join(
            f", {p}‰ of {t}.{k} groups all-NULL in {c}"
            for (t, k, c), p in sorted(nullgroup.items())
        )
        + "".join(
            f", {p}‰ {k} values in {t}.{c}"
            for (t, c, k), p in sorted(extval.items())
        )
        + ")"
    )
    spark = get_spark("fuzz-parity")
    con = connect_oracle(slice_dir)

    failed = []
    pairs = dict(sorted(_collect().items()))
    if use_nullprobe:
        pairs["x_null_leading_running"] = _null_leading_probe()
        if only:  # empty `only` means run everything, probe included
            only.add("x_null_leading_running")
    for qid, (fn, sql) in pairs.items():
        if only and qid not in only:
            continue
        if sql is None:
            n = fn(spark, slice_dir).count()
            print(f"{qid:28s} ROWS-ONLY rows={n}")
            continue
        try:
            problems = compare(spark, con, fn, sql, slice_dir)
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION {type(e).__name__}: {e}"]
        if problems and use_symraise and any(
            p.startswith("EXCEPTION") for p in problems
        ):
            # adjudicate the raise: run each side independently. The
            # engines' error TYPES differ (Spark ArithmeticException vs
            # DuckDB ConversionException) — symmetry is about WHETHER
            # the out-of-contract word is refused, not the message.
            def _exc(run) -> str | None:
                try:
                    run()
                    return None
                except Exception as e:  # noqa: BLE001
                    return type(e).__name__
            s_exc = _exc(lambda: fn(spark, slice_dir).collect())
            d_exc = _exc(lambda: con.execute(sql).fetchall())
            if s_exc and d_exc:
                print(f"{qid:28s} RAISE-BOTH ({s_exc} / {d_exc})")
                continue
            problems.append(
                f"ASYMMETRIC RAISE: spark={s_exc or 'answered'} "
                f"duckdb={d_exc or 'answered'}"
            )
        if problems:
            failed.append(qid)
            print(f"{qid:28s} FAIL")
            for p in problems:
                print(f"    {p}")
        else:
            print(f"{qid:28s} OK")
    print(f"\n{len(failed)} failures: {failed}" if failed else "\nall OK")
    sys.exit(1 if failed else 0)
