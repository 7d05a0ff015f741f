"""Window-table prescreen vs the hash path.

The table path (base-V window codes + per-target flag tables) must give
exactly the hash path's answers: per-row distinct Bloom-hit counts in both
orientations, token-confirmed target k-gram candidates, and the kernels'
full output, with one target and with several sharing one set of
window codes. Also covers the table gate, out-of-vocabulary tokens under a
complement map, and that no package module imports anything unused."""

import ast
import pathlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from bloomine_spark.functions.hashing import code_kgram_hashes, rolling_kgram_hash
from bloomine_spark.functions.kgrams import (
    FlatWindows,
    raw_list_values,
    token_batch_from_arrow,
    window_codes,
)
from bloomine_spark.operators import screen
from bloomine_spark.operators.multiscreen import prepare_targets
from bloomine_spark.operators.screen import (
    TargetWindows,
    _exact_candidates,
    _fp_pass_counts,
    make_screen_kernel,
    prepare_target,
    window_radix,
)
from bloomine_spark.params import ScreenParams
from bloomine_spark.sources.fastq import DNA_COMPLEMENT_MAP

REPO = pathlib.Path(__file__).resolve().parents[1]


class FakeBroadcast:
    def __init__(self, v):
        self.value = v


def revcomp(tokens):
    return DNA_COMPLEMENT_MAP[np.asarray(tokens)][::-1]


def dna_batch(rng, n_rows, *targets, max_len=60):
    """Random DNA rows (N included) of length 0..max_len, some carrying a
    target, its reverse complement or a one-token mutant of either."""
    reads = []
    for i in range(n_rows):
        r = rng.integers(0, 5, rng.integers(0, max_len + 1))
        kind = i % 10
        target = targets[i // 10 % len(targets)]
        if kind in (1, 2, 3, 4) and len(r) >= len(target):
            t = np.array(target if kind in (1, 3) else revcomp(target))
            if kind in (3, 4):
                t[len(t) // 2] = (t[len(t) // 2] + 1) % 4
            at = rng.integers(0, len(r) - len(t) + 1)
            r[at : at + len(t)] = t
        reads.append(r.tolist())
    return pa.RecordBatch.from_pydict(
        {
            "doc_id": pa.array([f"r{i}" for i in range(n_rows)]),
            "tokens": pa.array(reads, type=pa.list_(pa.int32())),
        }
    )


def run_kernel(kern, rb):
    out = list(kern(iter([rb])))
    if not out:
        return pd.DataFrame()
    return pa.Table.from_batches(out).to_pandas()


def both_paths(kernel_of, rb, monkeypatch):
    """(table-path output, hash-path output) of a kernel factory."""
    table = run_kernel(kernel_of(), rb)
    with monkeypatch.context() as m:
        m.setattr(screen, "MAX_TABLE_CODES", 0)  # every batch: hash path
        hashed = run_kernel(kernel_of(), rb)
    return table, hashed


# ---------------------------------------------------------------------------
# building blocks
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("radix,k", [(1, 3), (3, 1), (3, 4), (5, 3), (7, 2)])
@pytest.mark.parametrize("reverse", [False, True])
@pytest.mark.parametrize("mapped", [False, True])
def test_code_kgram_hashes_match_rolling_hash(radix, k, reverse, mapped):
    rng = np.random.default_rng(radix * 100 + k)
    token_map = rng.permutation(radix) + 3 if mapped else None
    codes = np.arange(radix**k)
    weights = radix ** np.arange(k - 1, -1, -1)
    windows = codes[:, None] // weights % radix
    if mapped:
        windows = token_map[windows]
    want = [
        rolling_kgram_hash(w.astype(np.uint64), 1, k, reverse=reverse)[0]
        for w in windows
    ]
    got = code_kgram_hashes(radix, k, token_map, reverse)
    assert got.tolist() == [int(h) for h in want]


def test_window_codes_are_base_radix_numbers():
    vals = np.array([0, 4, 2, 3, 1, 0, 4], dtype=np.int32)
    got = window_codes(vals, len(vals) - 2, 3, 5)
    want = [a * 25 + b * 5 + c for a, b, c in zip(vals, vals[1:], vals[2:])]
    assert got.tolist() == want
    assert got.dtype == np.int32


def test_table_dropped_on_pickle():
    import pickle

    ctx = prepare_target(list(range(4)) * 3, ScreenParams(k=3))
    table = ctx.window_table(4)
    assert table.nbytes == 4**3
    assert ctx.window_table(4) is table  # cached per radix
    assert pickle.loads(pickle.dumps(ctx))._table is None


# ---------------------------------------------------------------------------
# table path == hash path
# ---------------------------------------------------------------------------

CASES = [
    # (k, Bloom fp rate, complement map): fp=0.3 makes Bloom FPs common
    (7, 1e-4, DNA_COMPLEMENT_MAP),
    (4, 0.3, DNA_COMPLEMENT_MAP),
    (5, 1e-4, None),
    (3, 0.3, None),
]


@pytest.mark.parametrize("k,fp,cmap", CASES)
def test_window_answers_match_hash_path(k, fp, cmap):
    rng = np.random.default_rng(k)
    target = rng.integers(0, 4, 24)
    rb = dna_batch(rng, 3000, target)
    ctx = prepare_target(target, ScreenParams(k=k, false_positive=fp), cmap)
    batch = token_batch_from_arrow(rb, "tokens")
    radix = window_radix(raw_list_values(rb, "tokens"), k, cmap)
    assert radix == 5
    table = TargetWindows(FlatWindows(batch, k, cmap, radix), ctx)
    hashed = TargetWindows(FlatWindows(batch, k, cmap), ctx)
    assert table.on_table and not hashed.on_table
    n = rb.num_rows
    some = rng.random(n) < 0.5
    for reverse in (False, True):
        for mask in (None, some):
            got = _fp_pass_counts(table, n, mask, reverse)
            want = _fp_pass_counts(hashed, n, mask, reverse)
            assert got.tolist() == want.tolist()
            assert got.sum() > 0
        for sel in (np.ones(n, dtype=bool), some):
            got = _exact_candidates(table, sel, reverse)
            want = _exact_candidates(hashed, sel, reverse)
            assert sorted(zip(*got)) == sorted(zip(*want))
            assert len(got[0]) > 0


@pytest.mark.parametrize("k,fp,cmap", CASES)
@pytest.mark.parametrize("mode", ["scored", "exact"])
def test_screen_kernel_table_matches_hash(k, fp, cmap, mode, monkeypatch):
    rng = np.random.default_rng(10 + k)
    target = rng.integers(0, 4, 24)
    rb = dna_batch(rng, 3000, target)
    params = ScreenParams(k=k, false_positive=fp)

    def kernel_of():
        ctx = prepare_target(target, params, cmap)
        return make_screen_kernel(
            FakeBroadcast({"": ctx}), "tokens", ["doc_id"], k, cmap, mode
        )

    table, hashed = both_paths(kernel_of, rb, monkeypatch)
    pd.testing.assert_frame_equal(table, hashed)
    assert table["sp_pass"].sum() > 0
    if cmap is not None:
        assert table["rc"].sum() > 0
        if fp < 0.01:  # else forward Bloom FPs pre-empt most RC retries
            assert (table["rc"] & table["sp_pass"]).sum() > 0


@pytest.mark.parametrize("cmap", [DNA_COMPLEMENT_MAP, None])
@pytest.mark.parametrize("mode", ["scored", "exact"])
def test_multi_kernel_table_matches_hash(cmap, mode, monkeypatch):
    rng = np.random.default_rng(3)
    targets = {f"t{i}": rng.integers(0, 4, 20).tolist() for i in range(3)}
    rb = dna_batch(rng, 3000, *targets.values())
    params = ScreenParams(k=5, false_positive=0.05)

    def kernel_of():
        ctxs = prepare_targets(targets, params, cmap)
        return make_screen_kernel(
            FakeBroadcast(ctxs), "tokens", ["doc_id"], params.k, cmap, mode
        )

    table, hashed = both_paths(kernel_of, rb, monkeypatch)
    pd.testing.assert_frame_equal(table, hashed)
    assert set(table["target_id"]) == set(targets)
    passed = table[table["sp_pass"]]
    assert set(passed["target_id"]) == set(targets)


# ---------------------------------------------------------------------------
# the gate
# ---------------------------------------------------------------------------

def test_gate():
    big = np.random.default_rng(0).integers(0, 5, 100_000).astype(np.int32)
    assert window_radix(big, 7) == 5
    assert window_radix(big, 7, DNA_COMPLEMENT_MAP) == 5
    # the map's vocabulary sets the radix even when a batch uses less of it
    assert window_radix(big[big < 4], 7, DNA_COMPLEMENT_MAP) == 5
    # V^k > 2^20: 8^7 codes
    wide = big.copy()
    wide[0] = 7
    assert window_radix(wide, 7) is None
    assert window_radix(wide, 5) == 8  # 8^5 = 32 768 codes
    # too small to amortize its table: 78 125 codes > 50 000 - 6 windows
    assert window_radix(big[:50_000], 7) is None
    assert window_radix(big[:50_000], 6) == 5
    # negative tokens hash fine but have no code
    neg = big.copy()
    neg[5] = -3
    assert window_radix(neg, 3) is None
    assert window_radix(np.zeros(0, dtype=np.int32), 3) is None


def test_gated_batches_take_hash_path(monkeypatch):
    """Batches the gate rejects never build a table, and still screen."""
    built = []
    orig = screen.TargetContext.window_table

    def spy(self, radix):
        built.append(radix)
        return orig(self, radix)

    monkeypatch.setattr(screen.TargetContext, "window_table", spy)
    rng = np.random.default_rng(5)
    target = rng.integers(0, 4, 24)
    params = ScreenParams(k=7, false_positive=1e-4)
    small = dna_batch(rng, 40, target)  # far fewer than 5^7 windows
    wide_reads = [rng.integers(0, 40, 60).tolist() for _ in range(2000)]
    wide_reads[3][10:34] = target.tolist()
    wide = pa.RecordBatch.from_pydict(
        {
            "doc_id": pa.array([f"w{i}" for i in range(len(wide_reads))]),
            "tokens": pa.array(wide_reads, type=pa.list_(pa.int32())),
        }
    )
    for rb, cmap in ((small, DNA_COMPLEMENT_MAP), (wide, None)):
        ctx = prepare_target(target, params, cmap)
        kern = make_screen_kernel(
            FakeBroadcast({"": ctx}), "tokens", ["doc_id"], params.k, cmap
        )
        out = run_kernel(kern, rb)
        assert out["sp_pass"].sum() > 0
    assert built == []


# ---------------------------------------------------------------------------
# out-of-vocabulary tokens under a complement map
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("bad", [-1, 7])
@pytest.mark.parametrize("n_filler", [0, 3000])  # hash path / table path
@pytest.mark.parametrize("multi", [False, True])  # 1 target / 3 targets
def test_oov_token_under_complement_map_raises(bad, n_filler, multi):
    rng = np.random.default_rng(9)
    target = rng.integers(0, 4, 24)
    # the read the reverse-complement retry would otherwise score as a hit
    reads = [[bad] * 5 + revcomp(target).tolist()]
    reads += [rng.integers(0, 5, 40).tolist() for _ in range(n_filler)]
    rb = pa.RecordBatch.from_pydict(
        {
            "doc_id": pa.array([f"r{i}" for i in range(len(reads))]),
            "tokens": pa.array(reads, type=pa.list_(pa.int32())),
        }
    )
    params = ScreenParams()
    targets = {"t0": target}
    if multi:
        targets.update((f"t{i}", rng.integers(0, 4, 24)) for i in (1, 2))
    ctxs = prepare_targets(targets, params, DNA_COMPLEMENT_MAP)
    kern = make_screen_kernel(
        FakeBroadcast(ctxs), "tokens", ["doc_id"], params.k,
        DNA_COMPLEMENT_MAP,
    )
    with pytest.raises(ValueError, match=rf"token {bad} .*vocabulary of 5 tokens"):
        run_kernel(kern, rb)


@pytest.mark.parametrize("mode", ["Scored", "EXACT", "fuzzy", "", None])
def test_unknown_mode_raises_when_kernel_is_built(mode):
    """Rejected on the driver, not by ``verify`` on prescreen survivors:
    a batch with none would otherwise screen to an empty result."""
    params = ScreenParams()
    ctx = prepare_target(list(range(4)) * 6, params)
    with pytest.raises(ValueError, match="unknown mode"):
        make_screen_kernel(
            FakeBroadcast({"": ctx}), "tokens", ["doc_id"], params.k,
            mode=mode,
        )


# ---------------------------------------------------------------------------
# lint: no package module or job script imports anything unused
# (``__init__.py`` files hold deliberate re-exports)
# ---------------------------------------------------------------------------

def _unused_imports(path):
    tree = ast.parse(path.read_text())
    imported = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                imported[(a.asname or a.name).split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                imported[a.asname or a.name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    used |= {
        n.value.id for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
    }
    # names quoted in string annotations, e.g. Iterator["pa.RecordBatch"]
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and all(
            part.isidentifier() for part in n.value.split(".")
        ):
            used.add(n.value.split(".")[0])
    return sorted(name for name in imported if name not in used)


@pytest.mark.parametrize(
    "module",
    sorted(
        p.relative_to(REPO / "bloomine_spark").as_posix()
        for p in (REPO / "bloomine_spark").rglob("*.py")
        if p.name != "__init__.py"
    ),
)
def test_screen_module_imports_are_used(module):
    unused = _unused_imports(REPO / "bloomine_spark" / module)
    assert not unused, f"{module}: unused imports {unused}"


@pytest.mark.parametrize(
    "job", sorted(p.name for p in (REPO / "jobs").glob("*.py"))
)
def test_job_imports_are_used(job):
    unused = _unused_imports(REPO / "jobs" / job)
    assert not unused, f"jobs/{job}: unused imports {unused}"
