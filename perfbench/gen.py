"""Deterministic benchmark inputs, one directory per (workload, seed).

Generation is pure Python and slow relative to a run (about 2 ms per
16 KB planted doc), so it happens once per (workload, seed): the files
are written as parquet and reused by every later run with that seed.
Nothing here is timed by the benchmark.

Truth is written next to the inputs as JSON, keyed by the natural key
`repo|path|commit` (doc ids are computed JVM-side by the program):

  declared  — pairs the pinned config must put in one cluster (exact
              clones, vendored slices, near clones with true shingle
              Jaccard >= the threshold);
  tolerated — planted pairs below the threshold (may or may not merge);
  groups    — planted groups, for the truth closure used by precision.
"""

from __future__ import annotations

import hashlib
import json
import os

# Input sizes.  Chosen so one op takes a few seconds on a 4-core host:
# a run holds set-up (cold JVM + warm-up op) plus at least one timed op
# inside the per-run time budget.
PLANTED_DOCS = 1500
# planted_batch ends with a vendored chain of this many docs (see
# `vendored_chain`); make_corpus supplies the rest
CHAIN_DOCS = 4
DAY2_DOCS = 480
# day2 split by rank of the natural-key hash: exact part sizes, so the
# delta and screen batches hold the same doc count for every seed
DAY2_DELTA, DAY2_SCREEN = 120, 120

WORKLOADS = ("planted_batch", "day2_fold")


def natural_key(row: dict) -> str:
    return f"{row['repo']}|{row['path']}|{row['commit']}"


# ------------------------------------------------------------ planted

def _planted(n_docs: int, seed: int):
    from welldedup.config import DedupConfig
    from welldedup.fixtures import make_corpus

    cfg = DedupConfig()
    corpus = make_corpus(n_docs, seed=seed)
    declared, tolerated = [], []
    for t in corpus.truth_pairs:
        e = (t["key_a"], t["key_b"])
        if t["kind"] in ("exact", "vendored") or t["true_jaccard"] >= cfg.jaccard_threshold:
            declared.append(e)
        else:
            tolerated.append(e)
    return corpus.rows, corpus.truth_groups, declared, tolerated


def vendored_chain(seed: int) -> list[dict]:
    """`CHAIN_DOCS` docs where each embeds a verbatim slice of its
    predecessor's own text, so only neighbours share content: a
    duplicate component of diameter `CHAIN_DOCS - 1`.

    With diameter >= 3 every doc has another at distance 2, so
    `cluster.connected_components` cannot converge in its one-pass
    contraction and always runs its label-propagation loop, as it does
    on any corpus at scale.  Without the chain, whether a 1,500-doc
    planted corpus needs the loop depends on the seed (6 of 15 seeds
    did not), which made op walls bimodal across seeds."""
    import numpy as np

    from welldedup.config import DedupConfig
    from welldedup.fixtures import _gen_content

    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    n_slice = max(DedupConfig().substr_min_len, 2048)
    rows, own = [], _gen_content(rng, int(rng.integers(120, 301)))
    for j in range(CHAIN_DOCS):
        if j == 0:
            content = own
        else:
            filler = _gen_content(rng, int(rng.integers(300, 501)))
            cut = len(filler) // 2
            # the slice comes from the predecessor's own text, never from
            # the slice it embedded, so non-neighbours share nothing
            content = filler[:cut] + "\n" + own[:n_slice] + "\n" + filler[cut:]
            own = filler[cut:]
        repo, path = "org-chain/repo0", f"src/chain/file{j}.py"
        commit = hashlib.sha1(f"{repo}|{path}|{seed}".encode()).hexdigest()[:12]
        rows.append(dict(repo=repo, path=path, commit=commit, lang="python", content=content))
    return rows


def _day2_split(rows: list[dict]) -> dict[str, list[dict]]:
    ranked = sorted(rows, key=lambda r: hashlib.sha256(natural_key(r).encode()).digest())
    return {
        "delta": ranked[:DAY2_DELTA],
        "screen": ranked[DAY2_DELTA : DAY2_DELTA + DAY2_SCREEN],
        "base": ranked[DAY2_DELTA + DAY2_SCREEN :],
    }


# ------------------------------------------------------------ writer

def _write_rows(path: str, rows: list[dict]) -> None:
    import pandas as pd

    cols = ["repo", "path", "commit", "lang", "content"]
    pd.DataFrame(rows, columns=cols).to_parquet(path, index=False)


def generate(workload: str, seed: int, root: str) -> str:
    """Write the inputs for (workload, seed) under `root` unless they
    exist; return their directory.  A finished directory holds
    `DONE`; a half-written one is regenerated."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    out = os.path.join(root, f"{workload}-{seed}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    if workload == "planted_batch":
        rows, groups, declared, tolerated = _planted(PLANTED_DOCS - CHAIN_DOCS, seed)
        chain_rows = vendored_chain(seed)
        chain = [natural_key(r) for r in chain_rows]
        rows += chain_rows
        declared += list(zip(chain, chain[1:]))
        groups.append(chain)
        files = {"corpus": rows}
    else:
        rows, groups, declared, tolerated = _planted(DAY2_DOCS, seed)
        files = _day2_split(rows)
    for name, part in files.items():
        _write_rows(os.path.join(out, f"{name}.parquet"), part)
    truth = {
        "declared": [list(e) for e in declared],
        "tolerated": [list(e) for e in tolerated],
        "groups": groups,
        "docs": {name: len(part) for name, part in files.items()},
    }
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    with open(os.path.join(out, "DONE"), "w") as f:
        f.write("ok\n")
    return out

