"""Seeded inputs for the benchmark: two wikidump history corpora and the
catalog tables.

Everything is a pure function of (seed, size, GEN_VERSION).  Outputs go
to a cache directory keyed on exactly that triple, each with a
``manifest.json`` written last, so a directory without a manifest is an
interrupted generation and is rebuilt.

The dump corpora are generated in parallel chunks: chunk ``i`` draws
from its own random stream, seeded with (seed, kind, i), and owns
disjoint page and revision id ranges, so the concatenation is
deterministic for any worker count.  The bzip2 copy is the per-chunk bzip2 streams
concatenated (the multi-stream layout of pbzip2 and of Wikimedia's
multistream dumps, which ``sources.bz2blocks`` splits like any other).
"""

from __future__ import annotations

import bz2
import json
import os
import random
import shutil
import subprocess
import sys

GEN_VERSION = 3

# Chunk granularity of the dump generators: a chunk is one worker task.
_CHUNK_BYTES = 8 << 20
_PAGE_IDS_PER_CHUNK = 1_000_000
_REV_IDS_PER_CHUNK = 100_000_000

_HEADER = "<mediawiki>\n<siteinfo><sitename>B</sitename></siteinfo>\n"
_FOOTER = "</mediawiki>\n"

_APPEND_WORDS = (
    "the quick brown fox jumps over lazy dog wiki article section "
    "reference citation template category"
).split()

_MARKUP_WORDS = (
    "campaign empire peninsula commander brigade infantry division "
    "regiment railway canal desert offensive armistice treaty mandate "
    "protectorate battle theatre victory advance defence garrison "
    "supply column cavalry corps front flank assault siege"
).split()


def _revision(rid: int, day: int, user: str, uid: int, text: str) -> str:
    return (
        f"    <revision>\n      <id>{rid}</id>\n"
        f"      <timestamp>2022-05-{day:02d}T00:00:00Z</timestamp>\n"
        f"      <contributor><username>{user}</username><id>{uid}</id></contributor>\n"
        f'      <text xml:space="preserve">{text}</text>\n    </revision>\n'
    )


def _page(pid: int, title: str, revs: list[str]) -> str:
    return (
        f"  <page>\n    <title>{title} {pid}</title>\n    <ns>0</ns>\n"
        f"    <id>{pid}</id>\n" + "".join(revs) + "  </page>\n"
    )


def _append_pages(rng: random.Random, pid: int, rid: int, target: int):
    """Append-mostly history: each revision adds ten words at the end."""
    words = _APPEND_WORDS
    size = 0
    while size < target:
        pid += 1
        body = " ".join(rng.choices(words, k=rng.randrange(400, 1200)))
        revs = []
        for r in range(rng.randrange(2, 8)):
            rid += 1
            body += " " + " ".join(rng.choices(words, k=10))
            revs.append(_revision(rid, r + 1, "U", 1, body))
        pg = _page(pid, "Article", revs)
        size += len(pg)
        yield pg, len(revs)


def _markup_pages(rng: random.Random, pid: int, rid: int, target: int):
    """Markup-dense history with 1-3 mid-page edits per revision (links,
    templates, escaped markup, character references), so the diff's
    common prefix/suffix fast path cannot absorb the edit."""
    words = _MARKUP_WORDS

    def sentence() -> str:
        parts = []
        for _ in range(rng.randrange(6, 14)):
            r = rng.random()
            w = rng.choice(words)
            if r < 0.12:
                tgt = f"{rng.choice(words).capitalize()} {rng.choice(words)}"
                parts.append(f"[[{tgt}|{w}]]" if rng.random() < 0.4 else f"[[{tgt}]]")
            elif r < 0.20:
                tpl = rng.choice(("flagicon", "cite web", "convert", "flag"))
                parts.append(f"{{{{{tpl}|{w}}}}}")
            elif r < 0.25:
                parts.append(
                    rng.choice(("&lt;br&gt;", "&amp;ndash;", "&#8211;", f"&quot;{w}&quot;"))
                )
            elif r < 0.30:
                parts.append(f"'''{w}'''" if rng.random() < 0.5 else f"''{w}''")
            else:
                parts.append(w)
        return " ".join(parts) + rng.choice((". ", ".\n", "; "))

    def infobox() -> str:
        lines = ["{| style=&quot;float: right; clear: right&quot;", "| {{Infobox Conflict"]
        for _ in range(rng.randrange(4, 10)):
            lines.append(
                f"|{rng.choice(words)}=[[{rng.choice(words).capitalize()}]]"
                f" {{{{flag|{rng.choice(words)}}}}}&lt;br&gt;"
            )
        lines += ["}}", "|}"]
        return "\n".join(lines) + "\n"

    size = 0
    while size < target:
        pid += 1
        body = [infobox()] + [sentence() for _ in range(rng.randrange(80, 200))]
        revs = []
        for r in range(rng.randrange(2, 8)):
            rid += 1
            for _ in range(rng.randrange(1, 4)):
                i = rng.randrange(1, len(body))
                n = rng.randrange(1, 6)
                roll = rng.random()
                if roll < 0.45:
                    body[i : i + n] = [sentence() for _ in range(n)]
                elif roll < 0.8:
                    body[i:i] = [sentence() for _ in range(n)]
                elif len(body) > n + 2:
                    del body[i : i + n]
            revs.append(_revision(rid, r + 1, "M", 2, "".join(body)))
        pg = _page(pid, "Conflict", revs)
        size += len(pg)
        yield pg, len(revs)


_KINDS = {"append": _append_pages, "markup": _markup_pages}


def _gen_chunk(args: tuple) -> dict:
    """One worker task: write chunk ``i`` (XML, and its bzip2 stream when
    asked) and return its counts."""
    kind, seed, i, n_chunks, target, out_dir, with_bz2 = args
    rng = random.Random(f"{seed}:{kind}:{i}")
    parts = [_HEADER] if i == 0 else []
    pages = revisions = 0
    for pg, nrev in _KINDS[kind](
        rng, i * _PAGE_IDS_PER_CHUNK, i * _REV_IDS_PER_CHUNK, target
    ):
        parts.append(pg)
        pages += 1
        revisions += nrev
    if i == n_chunks - 1:
        parts.append(_FOOTER)
    data = "".join(parts).encode()
    with open(os.path.join(out_dir, f"chunk{i:04d}.xml"), "wb") as fh:
        fh.write(data)
    if with_bz2:
        with open(os.path.join(out_dir, f"chunk{i:04d}.xml.bz2"), "wb") as fh:
            fh.write(bz2.compress(data, 9))
    return {"pages": pages, "revisions": revisions}


def _run_chunks(tasks: list[list], workers: int) -> list[dict]:
    """Run ``_gen_chunk`` over ``tasks`` in at most ``workers`` child
    interpreters at a time; every child has exited when this returns."""
    results: list[dict | None] = [None] * len(tasks)
    running: list[tuple[int, subprocess.Popen]] = []
    pending = list(enumerate(tasks))
    try:
        while pending or running:
            while pending and len(running) < workers:
                i, task = pending.pop(0)
                cmd = [sys.executable, os.path.abspath(__file__), json.dumps(task)]
                running.append((i, subprocess.Popen(cmd, stdout=subprocess.PIPE)))
            i, proc = running.pop(0)
            out, _ = proc.communicate()
            if proc.returncode != 0:
                raise RuntimeError(f"corpus chunk {i} failed with exit code {proc.returncode}")
            results[i] = json.loads(out)
    finally:
        for _, proc in running:
            proc.kill()
            proc.wait()
    return results


def _concat(out_dir: str, suffix: str, n_chunks: int, dest: str) -> None:
    with open(dest, "wb") as out:
        for i in range(n_chunks):
            part = os.path.join(out_dir, f"chunk{i:04d}{suffix}")
            with open(part, "rb") as fh:
                shutil.copyfileobj(fh, out, 1 << 22)
            os.unlink(part)


def _cache_dir(cache_root: str, name: str, seed: int, size: int) -> str:
    return os.path.join(cache_root, f"{name}-s{seed}-{size}-v{GEN_VERSION}")


def _cached(d: str) -> dict | None:
    path = os.path.join(d, "manifest.json")
    try:
        with open(path) as fh:
            man = json.load(fh)
    except (OSError, ValueError):
        return None
    os.utime(path)  # recency for _evict
    return man


# Cached inputs kept per cache root; the least recently used go first.
CACHE_KEEP = 8


def _evict(cache_root: str) -> None:
    def used(entry: str) -> float:
        for sub in ("", *os.listdir(os.path.join(cache_root, entry))):
            p = os.path.join(cache_root, entry, sub, "manifest.json")
            if os.path.exists(p):
                return os.path.getmtime(p)
        return 0.0

    entries = sorted(os.listdir(cache_root), key=used, reverse=True)
    for entry in entries[CACHE_KEEP:]:
        shutil.rmtree(os.path.join(cache_root, entry), ignore_errors=True)


def dump_corpus(
    cache_root: str, kind: str, seed: int, size: int, *, with_bz2: bool, workers: int
) -> dict:
    """Generate (or load from cache) a ``kind`` history dump of about
    ``size`` bytes.  Returns its manifest: path, bytes, pages, revisions
    and, when ``with_bz2``, the bzip2 copy's path and bytes."""
    d = _cache_dir(cache_root, f"dump-{kind}{'-bz2' if with_bz2 else ''}", seed, size)
    man = _cached(d)
    if man is not None:
        return man
    shutil.rmtree(d, ignore_errors=True)
    if os.path.isdir(cache_root):
        _evict(cache_root)
    os.makedirs(d)
    n_chunks = max(1, -(-size // _CHUNK_BYTES))
    per_chunk = -(-size // n_chunks)
    tasks = [[kind, seed, i, n_chunks, per_chunk, d, with_bz2] for i in range(n_chunks)]
    counts = _run_chunks(tasks, max(1, workers))
    xml = os.path.join(d, "dump.xml")
    _concat(d, ".xml", n_chunks, xml)
    man = {
        "kind": kind,
        "seed": seed,
        "size": size,
        "gen_version": GEN_VERSION,
        "path": xml,
        "bytes": os.path.getsize(xml),
        "pages": sum(c["pages"] for c in counts),
        "revisions": sum(c["revisions"] for c in counts),
    }
    if with_bz2:
        man["bz2_path"] = xml + ".bz2"
        _concat(d, ".xml.bz2", n_chunks, man["bz2_path"])
        man["bz2_bytes"] = os.path.getsize(man["bz2_path"])
    _write_manifest(d, man)
    return man


def _write_manifest(d: str, man: dict) -> None:
    tmp = os.path.join(d, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(man, fh, indent=1)
    os.replace(tmp, os.path.join(d, "manifest.json"))


# ---- catalog tables ---------------------------------------------------------
#
# The ten tables of wikihadoop_spark.catalog.TABLE_NAMES with the column
# types, row counts and value shapes of the catalog's star-schema test
# data (TESTDATA.md): row counts scale with sf (documents and embeddings
# have floors of 500 rows), keys are dense, dates are naive microsecond
# timestamps, documents are 10-99 words drawn uniformly from a
# 30-word vocabulary, 5% of them near-duplicates (text + " dup"), and
# embeddings are independent unit-norm Gaussian vectors in 64
# dimensions with a uniform label 0-9 that carries no cluster
# structure.  DESIGN.md compares the two tables the catalog-heavy
# queries read, and those queries' results, with the test data.

_DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)
_PART_ADJ = ("blue", "cold", "hot", "red", "small", "big", "green", "old")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")


def _catalog_tables(seed: int, sf: float) -> dict:
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust = max(1, int(150_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_events = max(1, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    names = [f"{a} {n}" for a in _PART_ADJ for n in _PART_NOUN]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", 2400, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": days("1995-01-02", 2500, n_line),
    })
    gaps = rng.exponential(30 * 86400 / n_events, n_events)
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype(
        "timedelta64[us]"
    )
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_events).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    # 5% of the documents are overwritten, one after another, with a
    # copy of a uniformly drawn document plus " dup".  As in the test
    # data, a copy may copy an earlier copy (a chain), two copies may
    # share a source (an exact duplicate), and a source may itself be
    # overwritten later.
    vocab = np.array(_DOC_WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 100, n_docs)]
    n_dups = n_docs // 20
    for i, j in zip(rng.choice(n_docs, n_dups, replace=False), rng.integers(0, n_docs, n_dups)):
        texts[i] = texts[j] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def catalog_dir(cache_root: str, seed: int, sf: float) -> dict:
    """Generate (or load from cache) the catalog tables at scale factor
    ``sf``.  The directory name ends in ``sf<sf>`` like the catalog's
    own data directories.  Returns the manifest (path, bytes, rows)."""
    d = os.path.join(_cache_dir(cache_root, "catalog", seed, int(round(sf * 1e6))), f"sf{sf}")
    man = _cached(d)
    if man is not None:
        return man
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(d, ignore_errors=True)
    if os.path.isdir(cache_root):
        _evict(cache_root)
    os.makedirs(d)
    rows = {}
    for name, df in _catalog_tables(seed, sf).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", table.column("embedding").cast(pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))
        rows[name] = table.num_rows
    man = {
        "seed": seed,
        "sf": sf,
        "gen_version": GEN_VERSION,
        "path": d,
        "bytes": sum(
            os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")
        ),
        "rows": rows,
    }
    _write_manifest(d, man)
    return man


if __name__ == "__main__":
    # child interpreter of _run_chunks: one chunk, counts on stdout
    print(json.dumps(_gen_chunk(json.loads(sys.argv[1]))))
