"""Deterministic synthetic source-code repository table (FIXTURES.md §F2).

Generates the engine's primary input — an Iceberg-style table of
source-code repositories ``(repo, path, commit, lang, content,
content_sha256)`` — plus the *intended* link-graph edge list, so edge
extraction (operators/extract.py) can be verified by exact set equality.

The graph encoded in ``content``:

- **import edges** (file→file, within repo): per-lang import statements
  referencing another file of the same repo by its extension-less path
  ("stem"), analogous to the reference's one-CSV-row-per-``<a>``-tag
  semantics (reference README.md:59).
- **requires edges** (cross-repo): comment lines ``requires: org/repo``;
  each becomes an edge from the declaring file to the target repo's entry
  file (``src/mod0/file0``). One designated **hub repo** receives ≈30% of
  all cross-repo references (out/in-degree skew for salting tests), and
  the hub's entry file imports up to 200 of its own files (out-skew).
- ≈5% of files are **isolated** (no imports, never referenced) → dangling
  + isolated vertices.
- The last ``max(2, n_repos//20)`` repos form an **isolated ring** (each
  requires only the next; nobody outside references them) → guaranteed
  multi-component structure at the repo level.

Vertex key is ``f"{repo}:{stem}"`` where stem = path minus extension.

Everything is driven by one ``numpy.random.default_rng(seed)`` stream —
same (sf, seed) ⇒ byte-identical table on any host.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

LANGS = ["python", "js", "java", "go"]
LANG_WEIGHTS = [0.4, 0.3, 0.2, 0.1]
EXT = {"python": "py", "js": "js", "java": "java", "go": "go"}
COMMENT = {"python": "#", "js": "//", "java": "//", "go": "//"}

FILES_PER_SF = 1_000_000  # sf0.001 → 1,000 file rows

# generated fixtures are cached under <repo root>/fixtures (git-ignored)
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES_DIR = os.path.join(_REPO_ROOT, "fixtures")


def _import_line(lang: str, stem: str, k: int) -> str:
    dotted = stem.replace("/", ".")
    if lang == "python":
        return f"from {dotted} import *"
    if lang == "js":
        return f'import dep{k} from "./{stem}";'
    if lang == "java":
        return f"import {dotted};"
    return f'import "{stem}"'  # go


@dataclass
class SourceTable:
    """Generated fixture: the table + intended edges + metadata."""

    files: pd.DataFrame  # repo, path, commit, lang, content, content_sha256
    edges: pd.DataFrame  # src, dst (vertex keys "repo:stem"), kind ∈ {import, requires}
    hub_repo: str
    ring_repos: list[str]
    seed: int
    sf: float

    @property
    def vertices(self) -> pd.DataFrame:
        """All file vertices (incl. isolated ones), key = repo:stem."""
        stems = self.files["path"].str.replace(r"\.[a-z]+$", "", regex=True)
        return pd.DataFrame({"id": self.files["repo"] + ":" + stems})


def generate(sf: float, seed: int = 42) -> SourceTable:
    rng = np.random.default_rng(seed)
    n_files = max(60, int(round(FILES_PER_SF * sf)))
    n_repos = max(6, n_files // 50)
    n_orgs = max(3, n_repos // 10)
    n_ring = max(2, n_repos // 20)

    # --- assign files to repos (hub repo gets a 2× share) -------------------
    repo_names = [f"org{i % n_orgs}/repo{i}" for i in range(n_repos)]
    hub_idx = 0
    ring_idx = list(range(n_repos - n_ring, n_repos))
    probs = np.ones(n_repos)
    probs[hub_idx] = 2.0
    probs /= probs.sum()
    counts = rng.multinomial(n_files - 2 * n_repos, probs) + 2  # ≥2 files each

    rows: list[dict] = []
    edges_src: list[str] = []
    edges_dst: list[str] = []
    edges_kind: list[str] = []

    # per-repo file tables
    repo_files: list[list[tuple[str, str, str]]] = []  # (path, stem, lang)
    for r in range(n_repos):
        m = int(counts[r])
        langs = rng.choice(len(LANGS), size=m, p=LANG_WEIGHTS)
        files = []
        for k in range(m):
            lang = LANGS[langs[k]]
            stem = f"src/mod{k // 8}/file{k}"
            files.append((f"{stem}.{EXT[lang]}", stem, lang))
        repo_files.append(files)

    def vkey(r: int, k: int) -> str:
        return f"{repo_names[r]}:{repo_files[r][k][1]}"

    for r in range(n_repos):
        repo = repo_names[r]
        files = repo_files[r]
        m = len(files)
        # ≈5% isolated files (no imports, never referenced); never file0
        iso_mask = rng.random(m) < 0.05
        iso_mask[0] = False
        target_pool = np.flatnonzero(~iso_mask)

        # out-degrees: Zipf(2) tail (capped 20) + uniform base; zeros possible
        outdeg = np.minimum(rng.zipf(2.0, size=m) - 1, 20) + rng.integers(0, 5, size=m)
        outdeg[iso_mask] = 0
        if r == hub_idx:
            outdeg[0] = min(m - 1, 200)  # hub entry file: out-skew

        # cross-repo requires: ~30% of files declare 1–3 deps
        req_mask = rng.random(m) < 0.30
        req_mask[iso_mask] = False
        if r in ring_idx:
            req_mask[:] = False  # ring repos wired manually below

        for k in range(m):
            path, stem, lang = files[k]
            c = COMMENT[lang]
            lines = [f"{c} {repo}/{path}"]
            # import edges (within repo, with replacement → parallel edges)
            d = int(outdeg[k])
            if d > 0 and len(target_pool) > 1:
                tgts = rng.choice(target_pool, size=d, replace=True)
                if r == hub_idx and k == 0:  # hub entry: distinct fan-out
                    tgts = target_pool[1 : d + 1]
                for j, t in enumerate(tgts):
                    if t == k:
                        continue
                    tstem = files[int(t)][1]
                    lines.append(_import_line(lang, tstem, j))
                    edges_src.append(vkey(r, k))
                    edges_dst.append(vkey(r, int(t)))
                    edges_kind.append("import")
            # requires edges (cross-repo, 30% of mass to the hub)
            if req_mask[k]:
                nreq = int(rng.integers(1, 4))
                for _ in range(nreq):
                    if r != hub_idx and rng.random() < 0.30:
                        tr = hub_idx
                    else:
                        tr = int(rng.integers(0, n_repos - n_ring))
                        if tr == r:
                            tr = (tr + 1) % (n_repos - n_ring)
                    lines.append(f"{c} requires: {repo_names[tr]}")
                    edges_src.append(vkey(r, k))
                    edges_dst.append(vkey(tr, 0))
                    edges_kind.append("requires")
            # filler
            for fi in range(int(rng.integers(1, 5))):
                lines.append(f"{c} filler {fi}: lorem ipsum dolor sit amet {r}.{k}.{fi}")
            content = "\n".join(lines) + "\n"
            commit = hashlib.sha256(f"{repo}:{path}:{sf}".encode()).hexdigest()[:12]
            rows.append(
                {
                    "repo": repo,
                    "path": path,
                    "commit": commit,
                    "lang": lang,
                    "content": content,
                    "content_sha256": hashlib.sha256(content.encode()).hexdigest(),
                }
            )

    # isolated ring of repos: i requires i+1 (mod ring) from its entry file.
    # O(1) row lookup via index (a linear scan per ring repo is O(n_ring·n)
    # — measured pathological at sf≥1)
    row_index = {(r["repo"], r["path"]): i for i, r in enumerate(rows)}
    for a, b in zip(ring_idx, ring_idx[1:] + ring_idx[:1]):
        repo, (path, stem, lang) = repo_names[a], repo_files[a][0]
        c = COMMENT[lang]
        row = rows[row_index[(repo, path)]]
        row["content"] += f"{c} requires: {repo_names[b]}\n"
        row["content_sha256"] = hashlib.sha256(row["content"].encode()).hexdigest()
        edges_src.append(vkey(a, 0))
        edges_dst.append(vkey(b, 0))
        edges_kind.append("requires")

    files_df = pd.DataFrame(rows)
    edges_df = pd.DataFrame({"src": edges_src, "dst": edges_dst, "kind": edges_kind})
    return SourceTable(
        files=files_df,
        edges=edges_df,
        hub_repo=repo_names[hub_idx],
        ring_repos=[repo_names[i] for i in ring_idx],
        seed=seed,
        sf=sf,
    )


def write_fixture(st: SourceTable, out_dir: str) -> str:
    """Write Iceberg-style layout: data/*.parquet + _manifest.json.

    No Iceberg jars in the sandbox (SURVEY.md §7) — the manifest records
    schema/snapshot info so a real catalog drops in behind the same layout.
    """
    os.makedirs(f"{out_dir}/source_table/data", exist_ok=True)
    os.makedirs(f"{out_dir}/intended_edges", exist_ok=True)
    st.files.to_parquet(f"{out_dir}/source_table/data/part-000.parquet", index=False)
    st.edges.to_parquet(f"{out_dir}/intended_edges/part-000.parquet", index=False)
    manifest = {
        "format": "iceberg-emulated-v1",
        "schema": {c: str(t) for c, t in st.files.dtypes.items()},
        "rows": int(len(st.files)),
        "edges": int(len(st.edges)),
        "sf": st.sf,
        "seed": st.seed,
        "hub_repo": st.hub_repo,
        "ring_repos": st.ring_repos,
        "snapshot_id": 1,
    }
    with open(f"{out_dir}/source_table/_manifest.json", "w") as f:
        json.dump(manifest, f, indent=2)
    return out_dir


def ensure_fixture(sf: float, base_dir: str = FIXTURES_DIR, seed: int = 42) -> str:
    """Generate-and-cache; returns the fixture dir for this sf."""
    out = f"{base_dir}/sf{sf:g}"
    if os.path.exists(f"{out}/source_table/_manifest.json"):
        return out
    write_fixture(generate(sf, seed), out)
    return out
