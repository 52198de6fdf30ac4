"""Seeded inputs for the three workloads, generated in one process.

Every input is a pure function of ``--seed``.  Pages come from the
package's own synthesizer, ``sources.pages.make_html(i, seed)``; the
size class of each page (small < 8 KB, medium < 128 KB, giant >= 128 KB)
is read off the generated bytes, and pages are kept until each class has
its exact quota (90% / 9% / 1%), spread evenly over the class's size range.
Holding the mix exact keeps the work per run independent of how many (and
how large) giants a seed happens to draw, so runs on different seeds
measure the same amount of work.

Generated parquet and the pure-engine expectations are cached on disk per
(workload, seed); the expectations are computed once, outside every timed
region, with ``engine.clean_html`` -- the same semantics as
``sources.pages.expected_extract_rows``.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import multiprocessing
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from htmlcleanup_spark.engine import clean_html
from htmlcleanup_spark.sources.pages import make_html

# Bump when the generated inputs change, so stale caches are not reused.
GEN_VERSION = 3

EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
LANGS = ("en", "de", "nl", "fr")
INPUT_FILES = 8

# crawl_fresh: distinct urls cleaned per run; every 10th url also has an
# older crawl that the dedup window must drop.
CRAWL_URLS = 400
# recrawl_resume: committed urls, plus new urls at ~10% of them.
RESUME_COMMITTED = 1200
RESUME_NEW = 120
# corpus_dedup: tiny documents and planted near-duplicate pairs.
CORPUS_DOCS = 1500
CORPUS_PAIRS = 75

SIZE_MIX = (("small", 0.90), ("medium", 0.09), ("giant", 0.01))

PAGES_ARROW_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


# make_html's size targets per class (bytes); a class's quota is spread
# over SIZE_BINS equal sub-ranges of its target range
SIZE_RANGES = {"small": (500, 4_000), "medium": (16_000, 64_000),
               "giant": (256_000, 512_000)}
SIZE_BINS = 8


def size_class(nbytes: int) -> str:
    if nbytes < 8_000:
        return "small"
    if nbytes < 128_000:
        return "medium"
    return "giant"


def _size_bin(c: str, nbytes: int, bins: int) -> int:
    lo, hi = SIZE_RANGES[c]
    return min(max(int((nbytes - lo) * bins / (hi - lo)), 0), bins - 1)


def quotas(n: int) -> dict:
    q = {name: round(n * share) for name, share in SIZE_MIX}
    q["small"] += n - sum(q.values())
    return q


def stratified_pages(seed: int, quota: dict) -> list:
    """Walk i = 0, 1, ... over make_html(i, seed); keep (i, html) while the
    page's size class, and its size bin within the class, still has room.
    A class of n pages gets min(n, SIZE_BINS) bins of near-equal share.
    Returned in index order, so the classes interleave."""
    need = {}
    for c, n in quota.items():
        bins = min(n, SIZE_BINS)
        for b in range(bins):
            need[(c, b)] = n // bins + (1 if b < n % bins else 0)
    kept = []
    i = 0
    while any(need.values()):
        html = make_html(i, seed)
        c = size_class(len(html))
        if c in quota:
            key = (c, _size_bin(c, len(html), min(quota[c], SIZE_BINS)))
            if need.get(key, 0) > 0:
                kept.append((i, html))
                need[key] -= 1
        i += 1
    return kept


def page_url(i: int) -> str:
    return "https://host%d.example/p/%d" % (i % 1000, i)


def _write_pages(rows: list, path: str) -> None:
    """rows: (url, warc_ts, html, lang); written as INPUT_FILES parquet files
    with rows dealt round-robin, the shape of a multi-file crawl table."""
    os.makedirs(path, exist_ok=True)
    for f in range(INPUT_FILES):
        part = rows[f::INPUT_FILES]
        table = pa.table(
            {
                "url": [r[0] for r in part],
                "warc_ts": [r[1] for r in part],
                "html": [r[2] for r in part],
                "text": [None] * len(part),
                "lang": [r[3] for r in part],
            },
            schema=PAGES_ARROW_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, "part-%05d.parquet" % f))


def _clean_row(item):
    url, html = item
    res = clean_html(html)
    return url, res.text, res.error, res.bytes_in, res.bytes_out


def clean_all(items: list) -> list:
    """Pure-engine output rows (url, text, error, bytes_in, bytes_out) for
    (url, html) items, in the given order.  Spread over a spawn pool of
    up to four processes: it is set-up work, never timed.  The pool forks
    (before any JVM exists): a spawn pool would also start multiprocessing's
    resource tracker, a process that outlives the pool."""
    procs = min(4, os.cpu_count() or 1)
    if procs < 2 or len(items) < 64:
        return [_clean_row(it) for it in items]
    pool = multiprocessing.get_context("fork").Pool(procs)
    try:
        return pool.map(_clean_row, items, chunksize=8)
    finally:
        pool.close()
        pool.join()


def text_sha(text) -> str:
    return "" if text is None else hashlib.sha256(text.encode("utf-8")).hexdigest()


def digest(rows) -> str:
    """Order-free digest of (url, sha256(text) hex, error, bytes_in,
    bytes_out) rows: the Spark side and the pure engine both reduce to it."""
    lines = sorted(
        "%s\t%s\t%s\t%d\t%d" % (u, s, e, bi, bo) for u, s, e, bi, bo in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def engine_digest(clean_rows) -> str:
    return digest(
        (u, text_sha(t), e, bi, bo) for u, t, e, bi, bo in clean_rows
    )


# ---------------------------------------------------------------------------
# per-workload generators: each returns (rows, meta) where rows go to the
# pages parquet and meta holds what the checks and probes need
# ---------------------------------------------------------------------------

def _gen_crawl_fresh(seed: int):
    latest = stratified_pages(seed, quotas(CRAWL_URLS))
    rows = []
    for i, html in latest:
        rows.append((page_url(i), EPOCH + datetime.timedelta(days=1, seconds=i),
                     html, LANGS[i % len(LANGS)]))
    # older crawls of every 10th url: small pages under seed+1, dropped by
    # the dedup window before the engine sees them
    recrawled = latest[::10]
    older = stratified_pages(seed + 1, {"small": len(recrawled)})
    for (i, _), (_, old_html) in zip(recrawled, older):
        rows.append((page_url(i), EPOCH + datetime.timedelta(seconds=i),
                     old_html, LANGS[i % len(LANGS)]))
    cleaned = clean_all([(page_url(i), html) for i, html in latest])
    meta = {
        "expected_digest": engine_digest(cleaned),
        "expected_errors": sum(1 for r in cleaned if r[2] is not None),
        "engine_urls": [page_url(i) for i, _ in latest],
    }
    return rows, meta


def _gen_recrawl_resume(seed: int):
    # committed state: an older crawl of RESUME_COMMITTED urls (small pages
    # under seed+1); the run's input recrawls all of them with the full size
    # mix, plus RESUME_NEW urls never seen before
    committed = stratified_pages(seed + 1, {"small": RESUME_COMMITTED})
    committed_ids = [i for i, _ in committed]
    recrawl = stratified_pages(seed, quotas(RESUME_COMMITTED))
    new = stratified_pages(seed + 2, quotas(RESUME_NEW))
    base_rows = [
        (page_url(i), EPOCH + datetime.timedelta(seconds=i), html,
         LANGS[i % len(LANGS)])
        for i, html in committed
    ]
    rows = []
    for cid, (_, html) in zip(committed_ids, recrawl):
        rows.append((page_url(cid), EPOCH + datetime.timedelta(days=1, seconds=cid),
                     html, LANGS[cid % len(LANGS)]))
    new_offset = max(committed_ids) + 1
    new_urls = []
    for i, html in new:
        url = page_url(new_offset + i)
        new_urls.append(url)
        rows.append((url, EPOCH + datetime.timedelta(days=1, seconds=new_offset + i),
                     html, LANGS[i % len(LANGS)]))
    cleaned = clean_all([(u, h) for u, (_, h) in zip(new_urls, new)])
    meta = {
        "expected_new_digest": engine_digest(cleaned),
        "expected_errors": sum(1 for r in cleaned if r[2] is not None),
        "new_urls": new_urls,
        "committed_urls": [page_url(i) for i in committed_ids],
        "engine_urls": new_urls,
    }
    return (rows, base_rows), meta


# corpus_dedup documents: the clean_documents shape, a short text wrapped
# in FrontPage markup
_DOC_PRE = (
    "<html>\n<head><title>d</title></head>\n<body>\n"
    '<!--mstheme--><font face="Book Antiqua">'
    '<p lang="en" align="left" style="line-height: 100%"><b>d</b><o:p></o:p>'
)
_DOC_POST = "</p>\n<p>.</p><p></p></font>\n</body>\n</html>\n"
_STOPWORDS = ("the", "of", "and", "to", "in", "is", "that", "for", "it", "with",
              "as", "on", "be", "at", "by", "this", "from", "or", "an", "are")
_MUTATE_EVERY = 30  # a planted twin differs in ~1 word of 30


def _vocab(seed: int, n: int = 5000) -> list:
    rng = random.Random(seed * 7919 + 1)
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
            for _ in range(n)]


def _gen_corpus_dedup(seed: int):
    rng = random.Random(seed)
    vocab = _vocab(seed)

    def words(n):
        return [rng.choice(_STOPWORDS) if rng.random() < 0.15 else rng.choice(vocab)
                for _ in range(n)]

    originals = CORPUS_DOCS - CORPUS_PAIRS
    texts = [words(rng.randint(40, 280)) for _ in range(originals)]
    planted = []
    for p in range(CORPUS_PAIRS):
        src = p * (originals // CORPUS_PAIRS)
        twin = [rng.choice(vocab) if rng.randrange(_MUTATE_EVERY) == 0 else w
                for w in texts[src]]
        texts.append(twin)
        planted.append((src, originals + p))
    rows = []
    items = []
    for d, ws in enumerate(texts):
        html = (_DOC_PRE + " ".join(ws) + _DOC_POST).encode("utf-8")
        url = str(d)
        rows.append((url, EPOCH, html, "en"))
        items.append((url, html))
    cleaned = clean_all(items)
    meta = {
        "expected_digest": engine_digest(cleaned),
        "expected_errors": sum(1 for r in cleaned if r[2] is not None),
        "planted": planted,
        "engine_urls": [u for u, _ in items],
    }
    return rows, meta


GENERATORS = {
    "crawl_fresh": _gen_crawl_fresh,
    "recrawl_resume": _gen_recrawl_resume,
    "corpus_dedup": _gen_corpus_dedup,
}


def prepare(work_dir: str, workload: str, seed: int) -> dict:
    """Generate (or reuse) the workload's inputs for ``seed``.

    Returns meta with ``pages`` (parquet dir), ``input_rows``,
    ``input_bytes`` (html bytes) and the workload's expectations; a
    recrawl_resume meta also carries ``base_pages``, the older crawl the
    committed snapshot is built from.
    """
    d = os.path.join(work_dir, "inputs", "%s-v%d-s%d" % (workload, GEN_VERSION, seed))
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return _with_paths(json.load(f), d)
    tmp = d + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    rows, meta = GENERATORS[workload](seed)
    if workload == "recrawl_resume":
        rows, base_rows = rows
        _write_pages(base_rows, os.path.join(tmp, "base_pages"))
    _write_pages(rows, os.path.join(tmp, "pages"))
    meta["input_rows"] = len(rows)
    meta["input_bytes"] = sum(len(r[2]) for r in rows)
    meta["seed"] = seed
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return _with_paths(meta, d)


def _with_paths(meta: dict, d: str) -> dict:
    meta["pages"] = os.path.join(d, "pages")
    if os.path.isdir(os.path.join(d, "base_pages")):
        meta["base_pages"] = os.path.join(d, "base_pages")
    meta["dir"] = d
    return meta


def read_html(meta: dict, urls) -> list:
    """(url, html) for the given urls, read back from the cached input,
    newest crawl per url (the pages the engine sees)."""
    want = set(urls)
    table = pq.read_table(meta["pages"], columns=["url", "warc_ts", "html"])
    best = {}
    for url, ts, html in zip(table.column("url").to_pylist(),
                             table.column("warc_ts").to_pylist(),
                             table.column("html").to_pylist()):
        if url in want and (url not in best or ts > best[url][0]):
            best[url] = (ts, html)
    return [(u, best[u][1]) for u in urls if u in best]
