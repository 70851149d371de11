"""q_link_pagerank vs an independent pure-Python fixed-point power
iteration. Dialect parity alone can't catch a recurrence wrong in BOTH
renderings — this pin recomputes the exact integer recurrence a third way
(hashlib md5 edges + Python bigints) and requires bit equality."""

from __future__ import annotations

import hashlib

import pandas as pd
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMALL
from unmixing_spark.queries import registry
from unmixing_spark.queries.linkgraph_q import (
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_MAX_FAN,
    PR_ROUNDS,
    PR_SCALE,
)


def _expected():
    doc_ids = sorted(
        pd.read_parquet(f"{SF_SMALL}/documents.parquet")["doc_id"]
        .astype(int).tolist())
    n = len(doc_ids)
    assert doc_ids == list(range(n)), "pin assumes contiguous doc_ids"
    links = []
    for d in doc_ids:
        outdeg = 1 + d % PR_MAX_FAN
        for k in range(outdeg):
            h = int(hashlib.md5(f"{d}#{k}".encode()).hexdigest()[:8], 16)
            links.append((d, outdeg, h % n))
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // (PR_DAMP_DEN * n)
    pr = {d: PR_SCALE // n for d in doc_ids}
    prev = pr
    for _ in range(PR_ROUNDS):
        prev = pr
        inc = dict.fromkeys(doc_ids, 0)
        for src, outdeg, dst in links:
            inc[dst] += pr[src] // outdeg
        pr = {d: base + PR_DAMP_NUM * inc[d] // PR_DAMP_DEN
              for d in doc_ids}
    max_delta = max(abs(pr[d] - prev[d]) for d in doc_ids)
    return pr, max_delta, n


def test_pagerank_matches_integer_brute_force(spark):
    out = (registry()["q_link_pagerank"].spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    pr, max_delta, n = _expected()
    assert len(out) == n
    assert (out["rounds"] == PR_ROUNDS).all()
    assert (out["max_delta"] == max_delta).all()
    got = dict(zip(out["doc_id"].astype(int), out["rank_fp"].astype(int)))
    assert got == pr  # bit-exact: the recurrence is pure integer math
    assert (out["out_degree"]
            == 1 + out["doc_id"] % PR_MAX_FAN).all()
    # rank mass is conserved up to deterministic truncation loss: each
    # round leaks < (E + 2N) units (one per exact division: ~2.5N edge
    # contributions + N dampings + N bases) and the stationary deficit is
    # that per-round leak amortized by the geometric series 1/(1-d)
    loss = PR_SCALE - out["rank_fp"].sum()
    per_round = int(out["out_degree"].sum()) + 2 * n
    assert 0 <= loss < per_round * PR_DAMP_DEN // (PR_DAMP_DEN - PR_DAMP_NUM)
    # the graph is non-trivial: ranks genuinely spread
    assert out["rank_fp"].max() > 3 * PR_SCALE // n
    # truncation honesty: the residual is small relative to the spread
    assert max_delta < (out["rank_fp"].max() - out["rank_fp"].min()) // 10


def _hb_expected():
    """Pure-Python HyperBall twin: identical md5 register derivation,
    identical integer register-max propagation, identical estimator
    expression tree (same literal constants, same IEEE operation order —
    Python floats are the same doubles), plus the EXACT truncated harmonic
    centrality via per-node reverse BFS for the accuracy band check."""
    from unmixing_spark.queries.linkgraph_q import (
        HB_LC_CUT, HB_LC_EST, HB_M, HB_NUM, HB_ROUNDS, HB_W)

    doc_ids = sorted(
        pd.read_parquet(f"{SF_SMALL}/documents.parquet")["doc_id"]
        .astype(int).tolist())
    n = len(doc_ids)
    links = []
    for d in doc_ids:
        for k in range(1 + d % PR_MAX_FAN):
            h = int(hashlib.md5(f"{d}#{k}".encode()).hexdigest()[:8], 16)
            links.append((d, h % n))

    def md5_32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    state = {}
    for d in doc_ids:
        b = md5_32(f"{d}!b") % HB_M
        x = md5_32(f"{d}!r")
        state[d] = {b: HB_W + 1 - x.bit_length()}

    def estimate(regs):
        cnt = len(regs)
        s_int = (sum(1 << (HB_W + 1 - rho) for rho in regs.values())
                 + (HB_M - cnt) * (1 << (HB_W + 1)))
        raw = HB_NUM / float(s_int)
        if raw <= HB_LC_CUT and cnt < HB_M:
            return HB_LC_EST[HB_M - cnt], cnt, s_int
        return raw, cnt, s_int

    hc = {d: 0.0 for d in doc_ids}
    prev_e = {d: estimate(state[d])[0] for d in doc_ids}
    prev_stats = cur_stats = None
    for r in range(1, HB_ROUNDS + 1):
        prev_stats = (sum(len(v) for v in state.values()),
                      sum(sum(v.values()) for v in state.values()))
        nxt = {d: dict(regs) for d, regs in state.items()}
        for src, dst in links:
            for b, rho in state[src].items():
                if rho > nxt[dst].get(b, 0):
                    nxt[dst][b] = rho
        state = nxt
        cur_stats = (sum(len(v) for v in state.values()),
                     sum(sum(v.values()) for v in state.values()))
        for d in doc_ids:
            e, _, _ = estimate(state[d])
            hc[d] = hc[d] + max(0.0, e - prev_e[d]) / float(r)
            prev_e[d] = e

    final = {d: estimate(state[d]) for d in doc_ids}
    converged = 1 if prev_stats == cur_stats else 0

    # exact truncated harmonic: reverse BFS from each node over in-edges
    radj = {d: [] for d in doc_ids}          # v -> [w : edge w->v]
    for src, dst in links:
        radj[dst].append(src)
    exact = {}
    for v in doc_ids:
        dist = {v: 0}
        frontier = [v]
        h = 0.0
        for r in range(1, HB_ROUNDS + 1):
            frontier = [w for u in frontier for w in radj[u]
                        if w not in dist]
            nf = []
            for w in frontier:
                if w not in dist:
                    dist[w] = r
                    nf.append(w)
            frontier = nf
            h += len(nf) / r
            if not frontier:
                break
        exact[v] = h
    return hc, final, converged, exact


def test_hyperball_matches_python_twin_and_exact_bfs(spark):
    import numpy as np

    out = (registry()["q_harmonic_hyperball"].spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    hc, final, converged, exact = _hb_expected()
    assert len(out) == len(hc)
    assert (out["converged"] == converged).all()
    got_regs = dict(zip(out["doc_id"].astype(int),
                        zip(out["regs_set"].astype(int),
                            out["s_reg"].astype(int))))
    want_regs = {d: (cnt, s) for d, (_, cnt, s) in final.items()}
    assert got_regs == want_regs   # registers are exact integers
    # harmonic values agree with the Python twin to the output rounding
    # (the twin evaluates the identical double expression tree; 6-decimal
    # round() differs only in HALF_UP vs banker's at exact ties)
    for _, row in out.iterrows():
        assert abs(row["harmonic_c"] - hc[int(row["doc_id"])]) < 1e-6
    # accuracy band vs the EXACT truncated harmonic (deterministic given
    # the fixed hash): HLL with m=16 has ~26% per-ball std error; the
    # harmonic estimator must land in the documented band and preserve
    # ranking signal
    e = np.array([exact[int(d)] for d in out["doc_id"]])
    g = out["harmonic_c"].to_numpy()
    nz = e > 0
    assert np.corrcoef(e[nz], g[nz])[0, 1] > 0.7
    rel = np.abs(g[nz] - e[nz]) / e[nz]
    assert np.median(rel) < 0.4


def _expected_hits():
    from unmixing_spark.queries.linkgraph_q import HS_ROUNDS, HS_SCALE

    doc_ids = sorted(
        pd.read_parquet(f"{SF_SMALL}/documents.parquet")["doc_id"]
        .astype(int).tolist())
    n = len(doc_ids)
    links = []
    for d in doc_ids:
        for k in range(1 + d % PR_MAX_FAN):
            h = int(hashlib.md5(f"{d}#{k}".encode()).hexdigest()[:8], 16)
            links.append((d, h % n))
    h = {d: HS_SCALE // n for d in doc_ids}
    a = prev_h = prev_a = None
    for _ in range(HS_ROUNDS):
        prev_h, prev_a = h, a
        ar = dict.fromkeys(doc_ids, 0)
        for src, dst in links:
            ar[dst] += h[src]
        at = sum(ar.values())
        a = {d: ar[d] * HS_SCALE // at for d in doc_ids}
        hr = dict.fromkeys(doc_ids, 0)
        for src, dst in links:
            hr[src] += a[dst]
        ht = sum(hr.values())
        h = {d: hr[d] * HS_SCALE // ht for d in doc_ids}
    dh = max(abs(h[d] - prev_h[d]) for d in doc_ids)
    da = max(abs(a[d] - prev_a[d]) for d in doc_ids)
    return h, a, dh, da, n


def test_hits_matches_integer_brute_force(spark):
    from unmixing_spark.queries.linkgraph_q import HS_ROUNDS, HS_SCALE

    out = (registry()["q_hits_scores"].spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    h, a, dh, da, n = _expected_hits()
    assert len(out) == n
    assert (out["rounds"] == HS_ROUNDS).all()
    assert (out["delta_hub"] == dh).all()
    assert (out["delta_auth"] == da).all()
    # bit-exact: the coupled recurrence is pure integer math
    assert dict(zip(out["doc_id"].astype(int),
                    out["hub_fp"].astype(int))) == h
    assert dict(zip(out["doc_id"].astype(int),
                    out["auth_fp"].astype(int))) == a
    # L1 normalization holds up to floor loss (< 1 unit per page)
    assert HS_SCALE - n <= out["hub_fp"].sum() <= HS_SCALE
    assert HS_SCALE - n <= out["auth_fp"].sum() <= HS_SCALE
    # the graph is non-trivial: both score vectors genuinely spread, and
    # pages nobody links to exist (authority exactly 0)
    assert out["hub_fp"].max() > 3 * HS_SCALE // n
    assert out["auth_fp"].max() > 3 * HS_SCALE // n
    assert (out["auth_fp"] == 0).any()
    # truncation honesty: residuals are small relative to the spread
    assert dh < (out["hub_fp"].max() - out["hub_fp"].min()) // 10
    assert da < (out["auth_fp"].max() - out["auth_fp"].min()) // 10


def test_trustrank_matches_integer_brute_force(spark):
    """q_trustrank vs the pure-Python personalized power iteration: bit
    equality, plus the spam-demotion semantics (seeds dominate,
    seed-unreachable pages carry exactly zero trust)."""
    from unmixing_spark.queries.linkgraph_q import TRUST_SEED_MOD

    out = (registry()["q_trustrank"].spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    doc_ids = sorted(
        pd.read_parquet(f"{SF_SMALL}/documents.parquet")["doc_id"]
        .astype(int).tolist())
    n = len(doc_ids)
    links = []
    for d in doc_ids:
        outdeg = 1 + d % PR_MAX_FAN
        for k in range(outdeg):
            h = int(hashlib.md5(f"{d}#{k}".encode()).hexdigest()[:8], 16)
            links.append((d, outdeg, h % n))
    seeds = [d for d in doc_ids if d % TRUST_SEED_MOD == 0]
    ns = len(seeds)
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // (PR_DAMP_DEN * ns)
    tr = {d: (PR_SCALE // ns if d % TRUST_SEED_MOD == 0 else 0)
          for d in doc_ids}
    prev = tr
    for _ in range(PR_ROUNDS):
        prev = tr
        inc = dict.fromkeys(doc_ids, 0)
        for src, outdeg, dst in links:
            inc[dst] += tr[src] // outdeg
        tr = {d: (base if d % TRUST_SEED_MOD == 0 else 0)
              + PR_DAMP_NUM * inc[d] // PR_DAMP_DEN
              for d in doc_ids}
    max_delta = max(abs(tr[d] - prev[d]) for d in doc_ids)
    assert len(out) == n
    assert (out["max_delta"] == max_delta).all()
    got = dict(zip(out["doc_id"].astype(int), out["trust_fp"].astype(int)))
    assert got == tr  # bit-exact integer recurrence
    assert (out["is_seed"] == (out["doc_id"] % TRUST_SEED_MOD == 0)
            .astype(int)).all()
    # semantics: seed-unreachable pages carry zero trust; the seed slice
    # holds far more trust per page than the rest
    reach = set(seeds)
    frontier = set(seeds)
    adj: dict[int, list[int]] = {}
    for src, _o, dst in links:
        adj.setdefault(src, []).append(dst)
    while frontier:
        nxt = {d for s in frontier for d in adj.get(s, [])} - reach
        reach |= nxt
        frontier = nxt
    for d in doc_ids:
        if d not in reach:
            assert got[d] == 0, d
    seed_mean = sum(got[d] for d in seeds) / ns
    rest = [got[d] for d in doc_ids if d % TRUST_SEED_MOD != 0]
    assert seed_mean > 5 * (sum(rest) / len(rest))


def test_degree_dist_matches_brute_force(spark):
    """Log-binned degree histogram equals a Python rebuild."""
    out = registry()["q_degree_dist"].spark_fn(spark, SF_SMALL).toPandas()
    doc_ids = sorted(
        pd.read_parquet(f"{SF_SMALL}/documents.parquet")["doc_id"]
        .astype(int).tolist())
    n = len(doc_ids)
    indeg: dict[int, int] = {}
    outdeg: dict[int, int] = {}
    for d in doc_ids:
        for k in range(1 + d % PR_MAX_FAN):
            h = int(hashlib.md5(f"{d}#{k}".encode()).hexdigest()[:8], 16)
            dst = h % n
            indeg[dst] = indeg.get(dst, 0) + 1
            outdeg[d] = outdeg.get(d, 0) + 1
    expect: dict[tuple[str, int], list[int]] = {}
    for side, degs in (("in", indeg), ("out", outdeg)):
        for deg in degs.values():
            key = (side, deg.bit_length() - 1)
            e = expect.setdefault(key, [0, 0])
            e[0] += 1
            e[1] += deg
    got = {(r.side, int(r.log2_deg)): [int(r.n_nodes), int(r.n_edges)]
           for r in out.itertuples()}
    assert got == expect


def test_link_spam_features_match_brute_force(spark):
    """Host-level intra-fraction and reciprocity equal a Python rebuild
    of the host-pair rollup."""
    out = registry()["q_link_spam_features"].spark_fn(spark, SF_SMALL).toPandas()
    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    host = {int(r.doc_id): f"{r.source}.example.com"
            for r in docs.itertuples()}
    n = len(docs)
    hp: dict[tuple[str, str], int] = {}
    for d in sorted(host):
        for k in range(1 + d % PR_MAX_FAN):
            h = int(hashlib.md5(f"{d}#{k}".encode()).hexdigest()[:8], 16)
            key = (host[d], host[h % n])
            hp[key] = hp.get(key, 0) + 1
    assert len(out) == len({s for s, _ in hp})
    for r in out.itertuples():
        pairs = {(s, t): c for (s, t), c in hp.items() if s == r.host}
        n_out = sum(pairs.values())
        n_intra = pairs.get((r.host, r.host), 0)
        inter = [(s, t) for (s, t) in pairs if t != s]
        recip = sum(1 for (s, t) in inter if (t, s) in hp)
        assert int(r.n_out_links) == n_out
        assert int(r.n_dst_hosts) == len(pairs)
        assert int(r.n_intra) == n_intra
        assert abs(r.intra_frac - round(n_intra / n_out, 6)) < 1e-9
        assert abs(r.reciprocity
                   - round(recip / max(len(inter), 1), 6)) < 1e-9


def test_effective_diameter_matches_python_twin(spark):
    """NF(r) rows equal the pure-Python HyperANF twin (same register
    propagation, same envelope monotonization), the fraction column is
    monotone ending at 1, exactly one radius carries the flag, and the
    estimate lands near the EXACT BFS effective diameter."""
    from unmixing_spark.queries.linkgraph_q import (
        HB_LC_CUT, HB_LC_EST, HB_M, HB_NUM, HB_ROUNDS, HB_W)

    out = (registry()["q_effective_diameter"].spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("r").reset_index(drop=True))
    doc_ids = sorted(
        pd.read_parquet(f"{SF_SMALL}/documents.parquet")["doc_id"]
        .astype(int).tolist())
    n = len(doc_ids)
    links = []
    for d in doc_ids:
        for k in range(1 + d % PR_MAX_FAN):
            h = int(hashlib.md5(f"{d}#{k}".encode()).hexdigest()[:8], 16)
            links.append((d, h % n))

    def md5_32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    state = {}
    for d in doc_ids:
        b = md5_32(f"{d}!b") % HB_M
        x = md5_32(f"{d}!r")
        state[d] = {b: HB_W + 1 - x.bit_length()}

    def estimate(regs):
        cnt = len(regs)
        s_int = (sum(1 << (HB_W + 1 - rho) for rho in regs.values())
                 + (HB_M - cnt) * (1 << (HB_W + 1)))
        raw = HB_NUM / float(s_int)
        if raw <= HB_LC_CUT and cnt < HB_M:
            return HB_LC_EST[HB_M - cnt]
        return raw

    env = {d: estimate(state[d]) for d in doc_ids}
    prev_e = dict(env)
    nf = [round(sum(env.values()), 6)]
    for _r in range(1, HB_ROUNDS + 1):
        nxt = {d: dict(regs) for d, regs in state.items()}
        for src, dst in links:
            for b, rho in state[src].items():
                if rho > nxt[dst].get(b, 0):
                    nxt[dst][b] = rho
        state = nxt
        for d in doc_ids:
            e = estimate(state[d])
            env[d] = env[d] + max(0.0, e - prev_e[d])
            prev_e[d] = e
        nf.append(round(sum(env.values()), 6))
    assert len(out) == HB_ROUNDS + 1
    for r in range(HB_ROUNDS + 1):
        assert abs(out.loc[r, "nf"] - nf[r]) < 1e-5, r
    fr = out["frac"].to_numpy()
    assert (fr[1:] >= fr[:-1] - 1e-12).all()
    assert abs(fr[-1] - 1.0) < 1e-12
    assert int(out["is_effective_diameter"].sum()) == 1
    est_ed = int(out.loc[out["is_effective_diameter"] == 1, "r"].iloc[0])
    # exact forward-BFS neighborhood function for the truth comparison
    adj: dict[int, list[int]] = {}
    for s, t in links:
        adj.setdefault(s, []).append(t)
    total = [0] * (HB_ROUNDS + 1)
    for v in doc_ids:
        seen = {v}
        frontier = {v}
        total[0] += 1
        for r in range(1, HB_ROUNDS + 1):
            frontier = {w for u in frontier for w in adj.get(u, [])} - seen
            seen |= frontier
            total[r] += len(seen)
    target = 0.9 * total[HB_ROUNDS]
    exact_ed = next(r for r in range(HB_ROUNDS + 1) if total[r] >= target)
    assert abs(est_ed - exact_ed) <= 2


def test_triangle_clustering_matches_set_brute_force(spark):
    """q_triangle_clustering vs an independent Python adjacency-set
    count (neighbor-set intersections — no orientation trick), so a
    wedge-join bug present in BOTH SQL renderings cannot hide."""
    out = (registry()["q_triangle_clustering"].spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    doc_ids = sorted(
        pd.read_parquet(f"{SF_SMALL}/documents.parquet")["doc_id"]
        .astype(int).tolist())
    n = len(doc_ids)
    adj: dict[int, set[int]] = {}
    for d in doc_ids:
        for k in range(1 + d % PR_MAX_FAN):
            h = int(hashlib.md5(f"{d}#{k}".encode()).hexdigest()[:8], 16)
            dst = h % n
            if dst != d:
                adj.setdefault(d, set()).add(dst)
                adj.setdefault(dst, set()).add(d)
    tri = {v: sum(len(adj[v] & adj[u]) for u in adj[v]) // 2
           for v in adj}
    assert len(out) == len(adj)  # one row per non-isolated node
    got_deg = dict(zip(out["doc_id"].astype(int), out["degree"].astype(int)))
    got_tri = dict(zip(out["doc_id"].astype(int),
                       out["triangles"].astype(int)))
    assert got_deg == {v: len(adj[v]) for v in adj}
    assert got_tri == tri
    total = sum(tri.values()) // 3
    assert (out["total_triangles"] == total).all()
    assert total > 0  # the synthetic graph genuinely closes triangles
    # coefficient column recomputed from the exact integer columns
    exp = out.apply(
        lambda r: round(2.0 * r["triangles"]
                        / (r["degree"] * (r["degree"] - 1)), 6)
        if r["degree"] >= 2 else 0.0, axis=1)
    assert (out["clustering"] - exp).abs().max() <= 1e-9


def test_assortativity_matches_brute_force(spark):
    """q_degree_assortativity vs numpy Pearson over the explicit
    edge-end pair list (float path, no moment algebra), so an
    integer-moment slip shared by both renderings cannot hide."""
    import numpy as np

    out = (registry()["q_degree_assortativity"].spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("degree").reset_index(drop=True))
    doc_ids = sorted(
        pd.read_parquet(f"{SF_SMALL}/documents.parquet")["doc_id"]
        .astype(int).tolist())
    n = len(doc_ids)
    adj: dict[int, set[int]] = {}
    for dd in doc_ids:
        for k in range(1 + dd % PR_MAX_FAN):
            h = int(hashlib.md5(f"{dd}#{k}".encode()).hexdigest()[:8], 16)
            dst = h % n
            if dst != dd:
                adj.setdefault(dd, set()).add(dst)
                adj.setdefault(dst, set()).add(dd)
    xs, ys = [], []
    for u in adj:
        for v in adj[u]:
            xs.append(len(adj[u]))
            ys.append(len(adj[v]))
    r = float(np.corrcoef(xs, ys)[0, 1])
    assert abs(out["assortativity"].iloc[0] - round(r, 6)) <= 2e-6
    assert (out["assortativity"] == out["assortativity"].iloc[0]).all()
    knn: dict[int, list[int]] = {}
    for x, y in zip(xs, ys):
        knn.setdefault(x, []).append(y)
    exp = {k: (len(v), round(sum(v) / len(v), 6)) for k, v in knn.items()}
    got = {int(row["degree"]): (int(row["n_edge_ends"]),
                                round(float(row["avg_nbr_deg"]), 6))
           for _, row in out.iterrows()}
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0]
        assert abs(got[k][1] - exp[k][1]) <= 2e-6
    # the synthetic graph is non-trivially correlated in SOME direction
    assert abs(r) > 1e-4


def _kcore_expected():
    from unmixing_spark.queries.linkgraph_q import KC_K

    doc_ids = sorted(
        pd.read_parquet(f"{SF_SMALL}/documents.parquet")["doc_id"]
        .astype(int).tolist())
    n = len(doc_ids)
    adj: dict[int, set[int]] = {}
    for d in doc_ids:
        for k in range(1 + d % PR_MAX_FAN):
            h = int(hashlib.md5(f"{d}#{k}".encode()).hexdigest()[:8], 16)
            dst = h % n
            if dst != d:
                adj.setdefault(d, set()).add(dst)
                adj.setdefault(dst, set()).add(d)
    alive = set(adj)
    while True:
        dead = {v for v in alive
                if sum(1 for u in adj[v] if u in alive) < KC_K}
        if not dead:
            break
        alive -= dead
    deg = {v: sum(1 for u in adj[v] if u in alive) for v in alive}
    return alive, deg, doc_ids


def test_kcore_matches_set_brute_force(spark):
    """q_kcore_membership vs a pure-Python peel over adjacency sets."""
    out = (registry()["q_kcore_membership"].spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    core, deg, doc_ids = _kcore_expected()
    assert list(out["doc_id"].astype(int)) == doc_ids
    assert (out["converged"] == 1).all()
    got_in = {int(r["doc_id"]) for _, r in out.iterrows()
              if r["in_core"] == 1}
    assert got_in == core
    got_deg = dict(zip(out["doc_id"].astype(int),
                       out["core_deg"].astype(int)))
    for d in doc_ids:
        assert got_deg[d] == deg.get(d, 0)
    # non-vacuous: a real shell peeled off, and the core is non-empty
    assert 0 < len(core) < len(doc_ids)


def test_kcore_adaptive_loop_beats_any_fixed_unroll(spark):
    """A planted path graph peels one node per round from each end at
    k=2 — far past KC_ORACLE_ROUNDS — and the adaptive loop must still
    reach the proven-empty fixpoint (the scale-correctness property the
    unrolled oracle alone cannot witness)."""
    from unmixing_spark.queries.linkgraph_q import (KC_ORACLE_ROUNDS,
                                                    kcore_alive)

    n = 2 * KC_ORACLE_ROUNDS + 9   # peel depth ceil((n-1)/2) > unroll
    und = [(i, i + 1) for i in range(n - 1)]
    rows = [(u, v) for u, v in und] + [(v, u) for u, v in und]
    edges = spark.createDataFrame(rows, "u long, v long")
    deg, rounds = kcore_alive(edges, k=2)
    assert deg.count() == 0           # a path has no 2-core
    assert rounds > KC_ORACLE_ROUNDS  # genuinely adaptive depth


def _lpa_expected():
    doc_ids = sorted(
        pd.read_parquet(f"{SF_SMALL}/documents.parquet")["doc_id"]
        .astype(int).tolist())
    n = len(doc_ids)
    edges = set()
    for d in doc_ids:
        for k in range(1 + d % PR_MAX_FAN):
            h = int(hashlib.md5(f"{d}#{k}".encode()).hexdigest()[:8], 16) % n
            if h != d:
                edges.add((min(d, h), max(d, h)))
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    lbl = {d: d for d in doc_ids}
    rounds = 0
    while True:
        rounds += 1
        assert rounds < 60
        new, changed = {}, 0
        for d in doc_ids:
            cnt = {lbl[d]: 1}
            for m in adj.get(d, []):
                cnt[lbl[m]] = cnt.get(lbl[m], 0) + 1
            best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[d] = best
            changed += best != lbl[d]
        lbl = new
        if changed == 0:
            return lbl, rounds, doc_ids


def test_label_prop_matches_python_fixpoint(spark):
    """q_label_prop vs an independent synchronous self-vote LPA replay
    run to ITS OWN fixpoint (no shared round constant — if the Spark
    loop exited early or the update rule drifted, the labelings would
    disagree)."""
    from unmixing_spark.queries.linkgraph_q import LP_ORACLE_ROUNDS

    out = (registry()["q_label_prop"].spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    lbl, rounds, doc_ids = _lpa_expected()
    # headroom contract for the unrolled oracle
    assert rounds <= LP_ORACLE_ROUNDS, (rounds, LP_ORACLE_ROUNDS)
    assert list(out["doc_id"].astype(int)) == doc_ids
    assert (out["converged"] == 1).all()
    got = dict(zip(out["doc_id"].astype(int), out["community"].astype(int)))
    assert got == lbl
    import collections
    sizes = collections.Counter(lbl.values())
    got_sizes = dict(zip(out["community"].astype(int),
                         out["comm_size"].astype(int)))
    for c, s in sizes.items():
        assert got_sizes[c] == s
    ex = {int(r["doc_id"]) for _, r in out.iterrows()
          if r["is_exemplar"] == 1}
    assert ex == {d for d in doc_ids if lbl[d] == d}
    # non-degenerate: a real multi-community partition with structure
    assert 10 < len(sizes) < len(doc_ids)
    assert max(sizes.values()) > 2


def test_modularity_matches_python_bruteforce(spark):
    """q_modularity vs an independent Python replay: undirected graph
    rebuilt from the md5 fan rule, per-source L_c/D_c counted by hand,
    Q_c = L_c/m - (D_c/2m)^2."""
    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    src_of = dict(zip(docs["doc_id"].astype(int), docs["source"]))
    doc_ids = sorted(src_of)
    n = len(doc_ids)
    edges = set()
    for d in doc_ids:
        for k in range(1 + d % PR_MAX_FAN):
            h = int(hashlib.md5(f"{d}#{k}".encode()).hexdigest()[:8], 16) % n
            if h != d:
                edges.add((min(d, h), max(d, h)))
    m = len(edges)
    deg = {d: 0 for d in doc_ids}
    intra: dict[str, int] = {}
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
        if src_of[u] == src_of[v]:
            intra[src_of[u]] = intra.get(src_of[u], 0) + 1
    dsum: dict[str, int] = {}
    nnode: dict[str, int] = {}
    for d in doc_ids:
        dsum[src_of[d]] = dsum.get(src_of[d], 0) + deg[d]
        nnode[src_of[d]] = nnode.get(src_of[d], 0) + 1
    exp_contrib = {c: intra.get(c, 0) / m - (dsum[c] / (2 * m)) ** 2
                   for c in dsum}
    exp_total = sum(exp_contrib.values())

    out = (registry()["q_modularity"].spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("community").reset_index(drop=True))
    assert sorted(out["community"]) == sorted(dsum)
    for _, r in out.iterrows():
        c = r["community"]
        assert int(r["n_nodes"]) == nnode[c]
        assert int(r["intra_edges"]) == intra.get(c, 0)
        assert int(r["degree_sum"]) == dsum[c]
        assert abs(float(r["q_contrib"]) - exp_contrib[c]) < 1e-8
        assert abs(float(r["q_total"]) - exp_total) < 1e-8
    # the md5 graph ignores sources, so the partition explains nothing:
    # Q must sit at the null-model reading, distinguishable from a
    # genuinely assortative graph (|Q| would be >= 0.1 there)
    assert abs(exp_total) < 0.05


def test_bowtie_matches_python_bruteforce(spark):
    """q_bowtie vs an independent Python BFS replay: same pivot rule
    (max total degree, ties min id), three reachability closures run to
    their own fixpoints, same set algebra."""
    from unmixing_spark.queries.linkgraph_q import BT_ORACLE_ROUNDS

    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    doc_ids = sorted(docs["doc_id"].astype(int))
    n = len(doc_ids)
    links = []
    for d in doc_ids:
        for k in range(1 + d % PR_MAX_FAN):
            h = int(hashlib.md5(f"{d}#{k}".encode()).hexdigest()[:8], 16) % n
            links.append((d, h))
    deg: dict[int, int] = {}
    for u, v in links:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    pivot = min(deg, key=lambda i: (-deg[i], i))

    def closure(edges):
        adj: dict[int, list[int]] = {}
        for u, v in edges:
            adj.setdefault(u, []).append(v)
        seen, frontier, depth = {pivot}, [pivot], 0
        while frontier:
            depth += 1
            nxt = []
            for u in frontier:
                for v in adj.get(u, []):
                    if v not in seen:
                        seen.add(v)
                        nxt.append(v)
            frontier = nxt
        return seen, depth

    fw, dfw = closure(links)
    bw, dbw = closure([(v, u) for u, v in links])
    wc, dwc = closure(links + [(v, u) for u, v in links])
    assert max(dfw, dbw, dwc) <= BT_ORACLE_ROUNDS  # oracle headroom
    exp = {}
    for d in doc_ids:
        if d in fw and d in bw:
            exp[d] = "SCC"
        elif d in bw:
            exp[d] = "IN"
        elif d in fw:
            exp[d] = "OUT"
        elif d in wc:
            exp[d] = "TENDRIL"
        else:
            exp[d] = "DISCONNECTED"

    out = (registry()["q_bowtie"].spark_fn(spark, SF_SMALL)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert (out["pivot_id"] == pivot).all()
    assert (out["converged"] == 1).all()
    got = dict(zip(out["doc_id"].astype(int), out["region"]))
    assert got == exp
    import collections
    sizes = collections.Counter(exp.values())
    got_sizes = dict(zip(out["region"], out["region_size"].astype(int)))
    assert got_sizes == dict(sizes)
    # non-degenerate: the graph has a real bowtie (giant SCC + periphery)
    assert sizes["SCC"] > n // 4
    assert len(sizes) >= 3


def _mini_corpus(tmp_path, n: int) -> str:
    """documents.parquet with n docs — the synthetic link graph is a pure
    function of the doc_id set, so each n yields a structurally
    different graph (different densities, different giant-SCC shares)."""
    docs = pd.DataFrame({
        "doc_id": range(n),
        "text": ["x"] * n,
        "lang": ["en"] * n,
        "source": ["s"] * n,
        "n_chars": [1] * n,
    })
    d = str(tmp_path / f"g{n}")
    import os
    os.makedirs(d, exist_ok=True)
    docs.to_parquet(f"{d}/documents.parquet", index=False)
    return d


def _edges_for(n: int) -> list[tuple[int, int]]:
    """Raw links rows WITH multiplicity (two fan slots can hit the same
    target, and the SQL's degree count keeps the duplicate rows —
    dedup only where the query itself does DISTINCT)."""
    edges = []
    for d in range(n):
        for k in range(1 + d % PR_MAX_FAN):
            h = int(hashlib.md5(f"{d}#{k}".encode()).hexdigest()[:8], 16) % n
            edges.append((d, h))
    return edges


def test_label_prop_across_graph_sizes(spark, tmp_path):
    """The adaptive LPA loop reaches the Python replay's fixpoint on
    structurally different graphs (n = 7, 23, 64, 150 — from
    near-degenerate to dense), not just the 500-doc corpus graph."""
    for n in (7, 23, 64, 150):
        sf = _mini_corpus(tmp_path, n)
        und = {(min(u, v), max(u, v)) for u, v in _edges_for(n) if u != v}
        adj: dict[int, list[int]] = {}
        for u, v in und:
            adj.setdefault(u, []).append(v)
            adj.setdefault(v, []).append(u)
        lbl = {d: d for d in range(n)}
        for _ in range(60):
            new = {}
            for d_ in range(n):
                cnt = {lbl[d_]: 1}
                for m in adj.get(d_, []):
                    cnt[lbl[m]] = cnt.get(lbl[m], 0) + 1
                new[d_] = min(cnt, key=lambda c: (-cnt[c], c))
            if new == lbl:
                break
            lbl = new
        else:
            raise AssertionError("python replay did not converge")
        out = (registry()["q_label_prop"].spark_fn(spark, sf)
               .toPandas())
        got = dict(zip(out["doc_id"].astype(int),
                       out["community"].astype(int)))
        assert got == lbl, n
        assert (out["converged"] == 1).all(), n


def test_bowtie_across_graph_sizes(spark, tmp_path):
    """Bowtie regions match the Python BFS replay on graphs from tiny
    (n=7: mostly degenerate regions) to mid-density (n=150)."""
    for n in (7, 23, 64, 150):
        sf = _mini_corpus(tmp_path, n)
        links = list(_edges_for(n))
        deg: dict[int, int] = {}
        for u, v in links:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        pivot = min(deg, key=lambda i: (-deg[i], i))

        def closure(edges):
            adj: dict[int, list[int]] = {}
            for u, v in edges:
                adj.setdefault(u, []).append(v)
            seen, frontier = {pivot}, [pivot]
            while frontier:
                nxt = []
                for u in frontier:
                    for v in adj.get(u, []):
                        if v not in seen:
                            seen.add(v)
                            nxt.append(v)
                frontier = nxt
            return seen

        fw = closure(links)
        bw = closure([(v, u) for u, v in links])
        wc = closure(links + [(v, u) for u, v in links])
        exp = {}
        for d_ in range(n):
            if d_ in fw and d_ in bw:
                exp[d_] = "SCC"
            elif d_ in bw:
                exp[d_] = "IN"
            elif d_ in fw:
                exp[d_] = "OUT"
            elif d_ in wc:
                exp[d_] = "TENDRIL"
            else:
                exp[d_] = "DISCONNECTED"
        out = (registry()["q_bowtie"].spark_fn(spark, sf).toPandas())
        got = dict(zip(out["doc_id"].astype(int), out["region"]))
        assert got == exp, n
        assert (out["pivot_id"] == pivot).all(), n
        assert (out["converged"] == 1).all(), n


def test_empty_corpus_raises_named_error(spark, tmp_path):
    """A 0-row documents table is a ValueError naming the query in the
    PageRank, TrustRank and HITS loops, not a bare ZeroDivisionError on
    the page count (q_bowtie's edgeless-graph guard is the model)."""
    schema = pq.read_schema(f"{SF_SMALL}/documents.parquet")
    pq.write_table(schema.empty_table(), str(tmp_path / "documents.parquet"))
    for name in ("q_link_pagerank", "q_trustrank", "q_hits_scores"):
        with pytest.raises(ValueError, match=name):
            registry()[name].spark_fn(spark, str(tmp_path))
