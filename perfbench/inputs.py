"""Seeded inputs for the benchmark workloads.

One generator per workload turns a seed into the rows the program reads:
``(doc_id, spans)`` documents, or ``media_ref`` rows for invoices.
``load`` writes them as parquet next to the ground truth the checker
compares against and the input stats printed next to the metrics, cached
under the benchmark's work directory by workload, seed, size and
``GEN_VERSION``.

The generators are *stratified*: the seed decides which media refs a
document holds (drawn from the fixed pools below, so which pixels the
kernel sees), the order of documents and the placement of media, while the
shape of the work is fixed by the workload.  Span counts and per-document
media fractions are fixed quantiles of the corpus distributions, the media
total is exact, media profiles come in exact shares, and heavy documents
sit at fixed quantiles of 50..500 media.  Within a profile, refs are drawn
in exact shares of their *cost class*: the render features that decide
how much work the kernel does on them (page count, and how many pages are
rotated, skewed or hold a flipped line).  So on inputs of ~100 documents
a seed changes the pixels, not the amount of work in a pass.

Inputs vary only through the ``media_ref`` profiles (crop, page, pdf, big,
err, and the invoice families); the render stressor rates
(``OCR_SPARK_SKEW_PROB``, ``OCR_SPARK_FLIP_PROB``) stay at the program's
defaults.

Media refs come from fixed pools in the fixture grammar
(``img://pool/<k>#<profile>``, ``pdf://pool/<k>#<pages>``,
``inv://pool-<k>#<family>``, ``inv://poolm-<k>#multi``).  Rendering is a
pure function of the ref, so a ref's pixels and expected text are the same
in every process.  The pools are constants, not chosen by running the
program: every ref in them was read correctly by the kernel when they were
fixed (the program does misread a few other refs, such as
``img://td-44-007475/0#crop`` and ``inv://s43-39#bill``), so a later
misread of a pool ref counts as failed.
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator or a pool changes, so stale cached inputs are not
# reused.
GEN_VERSION = 3

# Default sizes: one warm pass takes 2-5 s at local[4], so a whole run
# (session, warm-up, timed window, check) takes 30-50 s.
SIZES = {"mixed_media": 120, "checkpoint_resume": 80, "invoice_fields": 40}

# corpus media mix (ocr_spark.fixtures.corpus._PROFILES)
MIXED_PROFILES = (("page", 0.25), ("pdf", 0.04), ("big", 0.005), ("err", 0.005))
HEAVY_FRAC = 0.01
HEAVY_MIN, HEAVY_MAX = 50, 500
ZIPF_A, ZIPF_CAP = 1.6, 40
CKPT_MEDIA_FRAC = 0.5
MULTI_FRAC = 0.1
MEDIA_POOL = {"crop": 1000, "page": 400, "pdf": 60, "big": 12}
INVOICE_POOL = {"single": 240, "multi": 24}
FAMILIES = ("vat", "stock_v1", "stock_v2", "bill")
_WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "spark group query row data slow filter customer line batch value stream"
).split()


@dataclass
class Workload:
    name: str
    seed: int
    kind: str  # "docs" or "refs"
    path: str  # parquet the program reads
    truth: dict  # doc_id -> span digest, or media_ref -> expected records
    stats: dict = field(default_factory=dict)

    @property
    def n_docs(self) -> int:
        return self.stats["docs"]


def media_ref(tag: str, k: int) -> str:
    if tag == "pdf":
        return f"pdf://pool/{k}#{2 + k % 3}"
    return f"img://pool/{k}#{tag}"


def _page_class(pages) -> tuple:
    """Cost class of rendered pages: their count, and how many are rotated,
    skewed or hold a flipped line (each sends the kernel down a longer
    orientation or deskew ladder)."""
    return (
        len(pages),
        sum(p.rot_k != 0 for p in pages),
        sum(p.skew_deg != 0 for p in pages),
        sum(any(ln.flipped for ln in p.lines) for p in pages),
    )


def _by_class(refs: list[str], cost_class) -> dict[tuple, list[str]]:
    groups: dict[tuple, list[str]] = {}
    for r in refs:
        groups.setdefault(cost_class(r), []).append(r)
    return groups


@functools.cache
def media_pool() -> dict[str, dict[tuple, list[str]]]:
    """Pool refs by media profile, then by cost class."""
    from ocr_spark.fixtures.render import render

    return {
        tag: _by_class([media_ref(tag, k) for k in range(n)], lambda r: _page_class(render(r)))
        for tag, n in MEDIA_POOL.items()
    }


@functools.cache
def invoice_pool() -> dict:
    """Single invoice refs by family, and ``#multi`` sheet refs, each by
    cost class (a sheet's class is its number of invoices)."""
    from ocr_spark.fixtures.invoice import multi_sub_refs, render_invoice

    single = [f"inv://pool-{k}#{FAMILIES[k % 4]}" for k in range(INVOICE_POOL["single"])]
    multi = [f"inv://poolm-{k}#multi" for k in range(INVOICE_POOL["multi"])]
    return {
        "single": {
            f: _by_class(
                [r for r in single if r.endswith("#" + f)],
                lambda r: _page_class([render_invoice(r)]),
            )
            for f in FAMILIES
        },
        "multi": _by_class(multi, lambda r: (len(multi_sub_refs(r)),)),
    }


def _stratified(n: int, rng: np.random.Generator) -> np.ndarray:
    """The n quantiles (i + 0.5) / n of the unit interval, in random order."""
    return (rng.permutation(n) + 0.5) / n


def _zipf_capped(n: int, rng: np.random.Generator) -> np.ndarray:
    """Span counts min(zipf(1.6), 40) (the corpus distribution), at fixed
    quantiles in random order."""
    big = 10**6
    k = np.arange(1, big, dtype=np.float64)
    zeta = float(np.sum(k**-ZIPF_A)) + big ** (1 - ZIPF_A) / (ZIPF_A - 1)
    cdf = np.cumsum(np.arange(1, ZIPF_CAP, dtype=np.float64) ** -ZIPF_A) / zeta
    return np.searchsorted(cdf, _stratified(n, rng), side="right") + 1


def _exact_tags(n: int, shares, rest: str, rng) -> list[str]:
    """n profile tags with exact shares (rounded), the remainder ``rest``,
    shuffled."""
    tags: list[str] = []
    for tag, w in shares:
        tags += [tag] * int(round(n * w))
    tags += [rest] * (n - len(tags))
    return [tags[i] for i in rng.permutation(n)]


def _draw(items: list, n: int, rng) -> list:
    """n items without replacement (with replacement past the pool size)."""
    return [items[i] for i in rng.choice(len(items), size=n, replace=n > len(items))]


def _draw_stratified(groups: dict[tuple, list[str]], n: int, rng) -> list[str]:
    """n refs in random order, each cost class given its share of the pool
    (largest remainder)."""
    keys = sorted(groups)
    total = sum(len(groups[k]) for k in keys)
    quota = [n * len(groups[k]) / total for k in keys]
    counts = [int(q) for q in quota]
    for i in sorted(range(len(keys)), key=lambda i: counts[i] - quota[i])[: n - sum(counts)]:
        counts[i] += 1
    refs = [r for k, c in zip(keys, counts) for r in _draw(groups[k], c, rng)]
    return [refs[i] for i in rng.permutation(n)]


def _draw_refs(tags: list[str], media_pool: dict, seed: int, rng) -> list[str]:
    """One pool ref per tag; ``err`` refs are made up (they never decode)."""
    drawn = {
        tag: iter(_draw_stratified(media_pool[tag], tags.count(tag), rng))
        for tag in set(tags) - {"err"}
    }
    return [
        f"img://err-{seed}/{i}#err" if tag == "err" else next(drawn[tag])
        for i, tag in enumerate(tags)
    ]


def _media_counts(counts: np.ndarray, fracs: np.ndarray, rng) -> np.ndarray:
    """Media per document, round(spans x fraction), nudged one at a time at
    random documents until the total is exactly half of all spans."""
    k = np.rint(counts * fracs).astype(int)
    target = int(round(counts.sum() / 2))
    while k.sum() != target:
        step = 1 if k.sum() < target else -1
        room = np.flatnonzero(k < counts if step > 0 else k > 0)
        k[rng.choice(room)] += step
    return k


def _mask(n: int, k: int, rng) -> np.ndarray:
    """n span slots of which k, chosen at random, are media."""
    m = np.zeros(n, dtype=bool)
    m[rng.choice(n, size=k, replace=False)] = True
    return m


def _words(rng) -> str:
    return " ".join(rng.choice(_WORDS, size=int(rng.integers(2, 12))).tolist())


def _docs_from_layout(prefix, seed, span_counts, is_media, refs, rng):
    """Assemble documents from per-doc span counts, a flat media mask over
    all spans, and the media refs in placement order."""
    docs = []
    pos = 0
    refs = iter(refs)
    for d, n_spans in enumerate(span_counts):
        spans = []
        for off in range(int(n_spans)):
            if is_media[pos]:
                spans.append(
                    {"kind": "media", "text": "", "media_ref": next(refs), "offset": off}
                )
            else:
                spans.append(
                    {"kind": "text", "text": _words(rng), "media_ref": "", "offset": off}
                )
            pos += 1
        docs.append((f"{prefix}-{seed}-{d:06d}", spans))
    return docs


def gen_mixed_media(seed: int, n_docs: int, media_pool: dict) -> list:
    """Corpus distribution: zipf 1-40 spans, per-doc media fraction
    uniform (half of all light spans are media), 1% heavy documents of
    50-500 media, media mix 70% crop / 25% page / 4% pdf / 0.5% big /
    0.5% err."""
    rng = np.random.default_rng([seed, 1])
    n_heavy = max(1, int(round(HEAVY_FRAC * n_docs)))
    n_light = n_docs - n_heavy
    light = _zipf_capped(n_light, rng)
    heavy = [
        HEAVY_MIN + int((i + 0.5) / n_heavy * (HEAVY_MAX - HEAVY_MIN))
        for i in range(n_heavy)
    ]
    n_media = _media_counts(light, _stratified(n_light, rng), rng)
    counts = list(light) + heavy
    masks = [_mask(int(c), int(k), rng) for c, k in zip(light, n_media)]
    masks += [np.ones(h, dtype=bool) for h in heavy]
    order = rng.permutation(n_docs)  # heavy docs land anywhere
    counts = [counts[i] for i in order]
    is_media = np.concatenate([masks[i] for i in order])
    tags = _exact_tags(int(is_media.sum()), MIXED_PROFILES, "crop", rng)
    refs = _draw_refs(tags, media_pool, seed, rng)
    return _docs_from_layout("mm", seed, counts, is_media, refs, rng)


def gen_checkpoint_resume(seed: int, n_docs: int, media_pool: dict) -> list:
    """Zipf 1-40 spans, 50% media, crop and page 3:1."""
    rng = np.random.default_rng([seed, 3])
    counts = _zipf_capped(n_docs, rng)
    n_spans = int(np.sum(counts))
    is_media = np.zeros(n_spans, dtype=bool)
    is_media[rng.choice(n_spans, size=int(round(CKPT_MEDIA_FRAC * n_spans)), replace=False)] = True
    tags = _exact_tags(int(is_media.sum()), (("page", 0.25),), "crop", rng)
    refs = _draw_refs(tags, media_pool, seed, rng)
    return _docs_from_layout("cr", seed, counts, is_media, refs, rng)


def gen_invoice_fields(seed: int, n_refs: int, invoice_pool: dict) -> list[str]:
    """Single invoices in equal family shares, shuffled, plus 10% ``#multi``
    batch-scanned sheets spread evenly through them (so the round-robin
    repartition does not stack the heavy sheets in one task)."""
    rng = np.random.default_rng([seed, 4])
    single = invoice_pool["single"]
    per_family = [n_refs // 4 + (i < n_refs % 4) for i in range(4)]
    refs = [
        r
        for fam, n in zip(FAMILIES, per_family)
        for r in _draw_stratified(single[fam], n, rng)
    ]
    refs = [refs[i] for i in rng.permutation(len(refs))]
    multi = _draw_stratified(invoice_pool["multi"], int(round(MULTI_FRAC * n_refs)), rng)
    step = (len(refs) + len(multi)) / max(len(multi), 1)
    for i, r in enumerate(multi):
        refs.insert(int(i * step), r)
    return refs


GENERATORS = {
    "mixed_media": gen_mixed_media,
    "checkpoint_resume": gen_checkpoint_resume,
    "invoice_fields": gen_invoice_fields,
}


def _media_pages(ref: str) -> int:
    if "#err" in ref:
        return 0
    if ref.startswith("pdf://"):
        return int(ref.rsplit("#", 1)[-1])
    return 1


def doc_stats(docs: list) -> dict:
    media = [sum(s["kind"] == "media" for s in spans) for _d, spans in docs]
    return {
        "docs": len(docs),
        "spans": sum(len(spans) for _d, spans in docs),
        "media": sum(media),
        "pages": sum(
            _media_pages(s["media_ref"])
            for _d, spans in docs
            for s in spans
            if s["kind"] == "media"
        ),
        "heavy_doc_share": sum(m >= HEAVY_MIN for m in media) / max(len(docs), 1),
        "max_media_per_doc": max(media, default=0),
    }


def ref_stats(refs: list[str]) -> dict:
    from ocr_spark.fixtures.invoice import is_multi, multi_sub_refs

    regions = sum(len(multi_sub_refs(r)) if is_multi(r) else 1 for r in refs)
    multi = sum(is_multi(r) for r in refs)
    return {
        "docs": len(refs),
        "spans": len(refs),
        "media": len(refs),
        "pages": len(refs),
        "regions": regions,
        "heavy_doc_share": multi / max(len(refs), 1),
        "max_media_per_doc": 1,
    }


def _atomic_write(path: str, write) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    write(tmp)
    os.replace(tmp, path)


def _dump_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def load(name: str, seed: int, cache_dir: str) -> Workload:
    """Generate (or reuse from ``cache_dir``) one workload's input, truth
    and stats."""
    from ocr_spark.fixtures.corpus import SPANS_TYPE

    from truth import doc_truth, invoice_truth

    key = f"{name}-s{seed}-n{SIZES[name]}-g{GEN_VERSION}"
    path = os.path.join(cache_dir, key + ".parquet")
    meta_path = os.path.join(cache_dir, key + ".json")
    kind = "refs" if name == "invoice_fields" else "docs"
    if os.path.exists(path) and os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        return Workload(name, seed, kind, path, meta["truth"], meta["stats"])
    os.makedirs(cache_dir, exist_ok=True)
    if kind == "refs":
        rows = GENERATORS[name](seed, SIZES[name], invoice_pool())
        table = pa.table({"media_ref": pa.array(rows, pa.string())})
        truth, stats = invoice_truth(rows), ref_stats(rows)
    else:
        rows = GENERATORS[name](seed, SIZES[name], media_pool())
        table = pa.table(
            {
                "doc_id": pa.array([d for d, _s in rows], pa.string()),
                "spans": pa.array([s for _d, s in rows], SPANS_TYPE),
            }
        )
        truth, stats = doc_truth(rows), doc_stats(rows)
    _atomic_write(path, lambda tmp: pq.write_table(table, tmp))
    _atomic_write(meta_path, lambda tmp: _dump_json(tmp, {"truth": truth, "stats": stats}))
    return Workload(name, seed, kind, path, truth, stats)
