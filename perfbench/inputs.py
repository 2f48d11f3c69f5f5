"""Seeded inputs of the workloads, landed as parquet before the Spark
session starts.

Everything here is a pure function of the seed and the size, and none
of it imports Spark: the pages come from ``kgce.synth`` and the
injections (url-variant duplicates, per-domain boilerplate, an eval
slice) from a ``random.Random`` seeded alongside.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from kgce import synth

PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)

# generated pages per workload; "tiny" is the smoke-test size
SIZES = {"full": 1000, "tiny": 120}
# pages of the warm-up pass's input: a pass costs about the same at any
# of these sizes, and a small input makes the cold pass shorter
WARMUP_PAGES = 120
INPUT_FILES = 8  # a crawl lands as several files, so the scan has parallelism


@dataclass
class Inputs:
    pages: Path  # parquet directory
    eval_docs: Path | None = None  # parquet file (crawl_batch only)
    # (text as crawled, text the oracle reads) of every page the job
    # should keep, before any repetition filter
    expected: list[tuple[str, str]] = field(default_factory=list)
    n_pages: int = 0


def _domain(url: str) -> str:
    return url.split("/")[2]


def _write(rows: list[dict], path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_ARROW), path)


def _land(rows: list[dict], out_dir: Path) -> None:
    step = -(-len(rows) // INPUT_FILES)
    for i in range(0, len(rows), step):
        _write(rows[i : i + step], out_dir / f"part-{i // step:03d}.parquet")


def _url_variant(url: str, k: int) -> str:
    """Three spellings that canonicalize back to ``url``: case, default
    port, tracking parameters."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    if k == 0:
        return f"{scheme.upper()}://{host.upper()}/{path}"
    if k == 1:
        return f"{scheme}://{host}:443/{path}"
    return f"{url}?utm_source=feed&utm_medium=rss"


def crawl_batch(seed: int, n_pages: int, root: Path) -> Inputs:
    """Zipf-skewed crawl with 5% url-variant duplicates, a boilerplate
    sentence on every page of each domain holding at least 5 pages, and
    a 5% eval slice.  The pages to expect are all but the eval slice,
    once each; the oracle reads them without their boilerplate."""
    base = synth.gen_pages(n_pages, seed=seed, zipf_a=1.5)
    rng = random.Random(f"crawl_batch/{seed}")
    per_domain = Counter(_domain(p["url"]) for p in base)
    ents = synth._ENTITIES
    boiler = {
        d: f"Contact {rng.choice(ents)} or {rng.choice(ents)} at desk {k} for support."
        for k, d in enumerate(sorted(per_domain))
        if per_domain[d] >= 5
    }
    # the eval slice needs 8-grams to match, so it only draws long pages
    long_pages = [i for i, p in enumerate(base) if len(p["text"].split()) >= 16]
    eval_idx = set(rng.sample(long_pages, n_pages // 20))
    dup_idx = rng.sample(range(n_pages), n_pages // 20)

    rows = []
    for p in base:
        d = _domain(p["url"])
        text = p["text"] + (" " + boiler[d] if d in boiler else "")
        rows.append({**p, "html": None, "text": text})
    rows += [
        {**rows[i], "url": _url_variant(rows[i]["url"], k % 3)}
        for k, i in enumerate(dup_idx)
    ]
    rng.shuffle(rows)
    _land(rows, root / "pages")
    eval_path = root / "eval_docs.parquet"
    pq.write_table(
        pa.Table.from_pylist(
            [{"doc_id": i, "text": base[i]["text"]} for i in sorted(eval_idx)],
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
        ),
        eval_path,
    )
    with_boiler = {p["url"]: p["text"] for p in rows}
    expected = [
        (with_boiler[p["url"]], p["text"]) for i, p in enumerate(base) if i not in eval_idx
    ]
    return Inputs(pages=root / "pages", eval_docs=eval_path, expected=expected, n_pages=len(rows))


def crawl_resume(seed: int, n_pages: int, root: Path) -> Inputs:
    """A hotter Zipf skew (a=2.2: the top domain holds about two thirds
    of the pages) and no injections: every page is expected."""
    base = synth.gen_pages(n_pages, seed=seed, zipf_a=2.2)
    rows = [{**p, "html": None} for p in base]
    _land(rows, root / "pages")
    return Inputs(
        pages=root / "pages", expected=[(p["text"], p["text"]) for p in base], n_pages=len(rows)
    )


def make(workload: str, seed: int, n_pages: int, root: Path) -> Inputs:
    return {"crawl_batch": crawl_batch, "crawl_resume": crawl_resume}[workload](
        seed, n_pages, root
    )
