"""Deterministic synthetic web graph — the sandbox stand-in for fetching.

The reference crawler fetches via the external ``crawl4ai``/aiohttp stack
(requirements.txt:1,5 — not in the snapshot); the sandbox replaces the
network with a seeded page generator so the crawl is exactly replayable.
This module is the SINGLE source of truth for page content: the Spark
engine calls it inside ``mapInPandas`` batches, the pure-Python oracle
simulator calls it directly — so any ordering/set divergence between them
is engine logic, never data.

Graph shape (FIXTURES.md §6): ``n_hosts`` hosts with zipf-ish skew — host 0
alone holds ~30% of all URLs (exercises hot-host salting); out-degree 0-14,
~80% same-host links; ~5% of (url, attempt) fetches fail (exercises
retries); robots.txt denies a path prefix on every 5th host and overrides
crawl_delay on every 3rd.

Everything derives from md5(url) — process-independent, platform-stable
(never Python's salted ``hash``; that is the reference's own
reproducibility bug, SURVEY.md §8.3).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

# URLs are emitted in deliberately NON-canonical form (uppercase host,
# default port, fragments) so the canonicalizer is a real pipeline stage.
HOST_FMT = "HOST{h}.Example"
CANON_HOST_FMT = "host{h}.example"


@dataclass(frozen=True)
class GraphSpec:
    n_hosts: int = 50
    pages_per_host: int = 400  # host 0 gets hot_factor× this
    hot_factor: int = 20  # host 0 holds 20·400/(20·400+49·400) ≈ 29% of URLs
    max_links: int = 14
    same_host_bias: float = 0.8
    fail_rate: float = 0.05
    seed: str = "webgraph-42"
    # content near-duplicate planting (crawl-loop dedup tests): when > 0,
    # page p (p ≥ k, p % k == 0) emits the spans of page p−k on the same
    # host plus ONE extra short text span — a near- (not exact-) duplicate.
    # 0 (default) leaves every existing graph bit-identical.
    near_dup_every: int = 0
    # text vocabulary size. The default 16 keeps every existing graph
    # bit-identical but makes short spans collide at Jaccard ≥ 0.5 across
    # the WHOLE corpus — organic near-dup pairs grow ∝ N² with graph size
    # (measured: 6.9k→107k pairs from 1×→4× hosts), which confounds any
    # scaling measurement of the dedup path. Benches that need dup pairs
    # ∝ planted rate only set this large (e.g. 65536): indexes ≥ 16 render
    # as synthetic tokens "w<i>", so accidental cross-page collisions
    # vanish while planted chains still duplicate by construction.
    vocab: int = 16

    def host_pages(self, h: int) -> int:
        # zipf-ish: host 0 is hot, the rest uniform
        return self.pages_per_host * (self.hot_factor if h == 0 else 1)


def _digest(spec: GraphSpec, *parts: object) -> bytes:
    key = (spec.seed + "|" + "|".join(str(p) for p in parts)).encode()
    return hashlib.md5(key).digest()


def _rand_int(spec: GraphSpec, mod: int, *parts: object) -> int:
    return int.from_bytes(_digest(spec, *parts)[:8], "big") % mod


def page_url(spec: GraphSpec, h: int, p: int) -> str:
    """Raw (non-canonical) URL of page p on host h."""
    port = ":443" if p % 7 == 0 else ""
    frag = "#frag" if p % 5 == 0 else ""
    return f"https://{HOST_FMT.format(h=h)}{port}/p/{p}{frag}"


def canonical_page_url(h: int, p: int) -> str:
    return f"https://{CANON_HOST_FMT.format(h=h)}/p/{p}"


def parse_canonical(url: str) -> tuple[int, int]:
    """(host_idx, page_idx) from a canonical URL."""
    host_part = url.split("//")[1].split("/")[0]
    h = int(host_part[4:].split(".")[0])
    p = int(url.rsplit("/", 1)[1])
    return h, p


def seed_urls(spec: GraphSpec, n_seeds: int = 40) -> list[str]:
    """Seed list: a few pages on a spread of hosts, raw form, fixed order."""
    seeds = []
    for i in range(n_seeds):
        h = _rand_int(spec, spec.n_hosts, "seedhost", i)
        p = _rand_int(spec, spec.host_pages(h), "seedpage", i)
        seeds.append(page_url(spec, h, p))
    return seeds


def fetch_ok(spec: GraphSpec, canon_url: str, attempt: int) -> bool:
    """~fail_rate of (url, attempt) pairs fail — a retry CAN succeed."""
    r = _rand_int(spec, 10_000, "fail", canon_url, attempt)
    return r >= int(spec.fail_rate * 10_000)


def _stream_words(spec: GraphSpec, key: str, n_words: int) -> list[int]:
    """n 32-bit values from an md5 counter stream — ONE digest per four
    values (the per-value-digest version dominated fetch CPU at scale)."""
    out: list[int] = []
    ctr = 0
    base = (spec.seed + "|" + key).encode()
    while len(out) < n_words:
        d = hashlib.md5(base + b"|" + str(ctr).encode()).digest()
        out.extend(int.from_bytes(d[j : j + 4], "big") for j in (0, 4, 8, 12))
        ctr += 1
    return out[:n_words]


def out_links(spec: GraphSpec, canon_url: str) -> list[str]:
    """Raw out-links of a page (deterministic, possibly duplicated —
    dedup is the crawler's job)."""
    h, p = parse_canonical(canon_url)
    n = _rand_int(spec, spec.max_links + 1, "deg", canon_url)
    if n == 0:
        return []
    ws = _stream_words(spec, "links|" + canon_url, 3 * n)
    links = []
    for i in range(n):
        same = ws[3 * i] % 100 < int(spec.same_host_bias * 100)
        th = h if same else ws[3 * i + 1] % spec.n_hosts
        tp = ws[3 * i + 2] % spec.host_pages(th)
        links.append(page_url(spec, th, tp))
    return links


# --- interleaved text+media spans (driver input_hint schema) -----------------

_KINDS = ["image", "video", "link"]
_WORDS = [
    "crawl", "frontier", "page", "spark", "wave", "host", "fetch", "span",
    "media", "token", "budget", "queue", "depth", "score", "robots", "shard",
]


def _word(spec: GraphSpec, idx: int) -> str:
    """Word ``idx % spec.vocab``: the 16 readable words first, synthetic
    tokens beyond (GraphSpec.vocab — identical output at the default)."""
    i = idx % spec.vocab
    return _WORDS[i] if i < len(_WORDS) else f"w{i}"


def page_spans(spec: GraphSpec, canon_url: str) -> list[dict]:
    """Interleaved spans: alternating text and media, offsets strictly
    ascending; text non-null iff kind == 'text' (FIXTURES.md §5).

    With ``near_dup_every`` = k > 0, page p (p ≥ k, p % k == 0) is a
    planted near-duplicate: the spans of page p−k on the same host plus
    one appended 3-word text span (chains — p=2k copies p=k copies p=0 —
    so a duplicate CLUSTER forms, not just pairs). Both the Spark engine
    and the pure-Python oracle read this same function, so the planted
    truth is shared by construction."""
    k = spec.near_dup_every
    h, p = parse_canonical(canon_url)
    if k and p >= k and p % k == 0:
        # iterative chain walk (recursion blows the stack on big graphs:
        # host 0 of the bench spec holds 21k pages → chain depth ~2,600):
        # every multiple of k shares page 0's spans plus one extra span
        # per chain ancestor, appended in ascending order — identical
        # output to the recursive formulation
        spans = [dict(s) for s in page_spans(spec, canonical_page_url(h, 0))]
        for m in range(k, p + 1, k):
            ws = iter(_stream_words(spec, "dupextra|" + canonical_page_url(h, m), 4))
            txt = " ".join(_word(spec, next(ws)) for _ in range(3))
            if spans:
                last = spans[-1]
                off = last["offset"] + (len(last["text"]) + 1 if last["kind"] == "text" else 32)
            else:
                off = 0
            spans.append({"kind": "text", "text": txt, "media_ref": None, "offset": off})
        return spans
    n_spans = 1 + _rand_int(spec, 8, "nspans", canon_url)
    # one md5 counter stream feeds every decision for this page
    ws = iter(_stream_words(spec, "spans|" + canon_url, 16 * n_spans))
    spans = []
    offset = 0
    for i in range(n_spans):
        is_text = i % 2 == 0 or next(ws) % 100 < 50
        if is_text:
            n_words = 3 + next(ws) % 10
            txt = " ".join(_word(spec, next(ws)) for _ in range(n_words))
            spans.append({"kind": "text", "text": txt, "media_ref": None, "offset": offset})
            offset += len(txt) + 1
        else:
            kind = _KINDS[next(ws) % len(_KINDS)]
            ref = f"{kind}://asset/{next(ws) % 10**9}"
            spans.append({"kind": kind, "text": None, "media_ref": ref, "offset": offset})
            offset += 32
    return spans


# --- robots rules -------------------------------------------------------------


def robots_rules(spec: GraphSpec) -> list[dict]:
    """host → deny/allow prefixes + crawl_delay. Every 5th host denies
    /p/1* — a REAL bite out of the graph; every 10th host carves an Allow
    exception (/p/10*) back out of its own deny (exercises RFC 9309
    longest-match-wins); every 3rd host slows the crawler down."""
    rules = []
    for h in range(spec.n_hosts):
        deny = ["/p/1"] if h % 5 == 0 else []
        allow = ["/p/10"] if h % 10 == 0 else []
        delay = 2.0 if h % 3 == 0 else None  # None ⇒ crawler default
        rules.append(
            {
                "host": CANON_HOST_FMT.format(h=h),
                "deny_prefixes": deny,
                "allow_prefixes": allow,
                "crawl_delay": delay,
            }
        )
    return rules


def robots_allows(rules_by_host: dict[str, dict], canon_url: str, host: str | None = None) -> bool:
    """Longest-match-wins (RFC 9309 §2.2.2): the longest matching prefix
    among deny+allow decides; a tie goes to Allow. Pure-Python mirror of
    engine._robots_allowed's column expression. ``host``: the rules key;
    by default the URL's authority, while the engine joins on ``host_of``
    (the port stripped) and passes that."""
    if host is None:
        host = canon_url.split("//")[1].split("/")[0]
    path = "/" + canon_url.split("//")[1].split("/", 1)[1] if "/" in canon_url.split("//")[1] else "/"
    r = rules_by_host.get(host)
    if not r:
        return True
    deny_m = max((len(p) for p in r.get("deny_prefixes") or [] if path.startswith(p)), default=-1)
    allow_m = max((len(p) for p in r.get("allow_prefixes") or [] if path.startswith(p)), default=-1)
    return allow_m >= deny_m
