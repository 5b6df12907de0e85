"""Seeded input generators for the perfbench workloads.

Pure Python, single process, no Spark: every generator takes the workload
seed and returns plain data, so the program under test receives only the
generated inputs. The same seed gives byte-identical inputs; the shape
parameters (shares, skews, sizes) are module constants documented in
perfbench/README.md next to the reason each was chosen.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass

# --- GitHub-shaped events ---------------------------------------------------

# Assumed, not measured (no event-type counts exist in this repo): pushes
# dominate, the long tail keeps every dashboard panel non-trivial and
# GollumEvent exercises the "other" category.
EVENT_TYPES = (
    ("PushEvent", 40), ("WatchEvent", 14), ("IssueCommentEvent", 10),
    ("PullRequestEvent", 8), ("CreateEvent", 7), ("IssuesEvent", 6),
    ("ForkEvent", 5), ("DeleteEvent", 3), ("PullRequestReviewEvent", 2),
    ("ReleaseEvent", 2), ("GollumEvent", 1), ("MemberEvent", 1), ("PublicEvent", 1),
)
N_ACTORS = 3000
ACTOR_ZIPF_S = 1.1  # assumed: a few bots and power users produce most events
N_REPOS = 800
MALFORMED_SHARE = 0.05  # lines the parser must drop (P3)
MISSING_TS_SHARE = 0.10  # rows without created_at the quality gate drops (P9)
LATE_SHARE = 0.03  # events stamped inside the previous batch's window
ORG_SHARE = 0.3
# each batch advances event time by half an hour, compressed from the 30 s a
# reference batch spans so that a few batches fill several hourly buckets
BATCH_WINDOW_S = 1800
EVENT_T0 = dt.datetime(2026, 3, 2, 6, 0, 0)


@dataclass(frozen=True)
class Event:
    """What the pure-Python reference needs of one valid event."""

    event_id: str
    event_type: str
    created_at: str  # "YYYY-MM-DD HH:MM:SS", UTC
    actor_id: int


def _zipf_cum_weights(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r**s
        out.append(acc)
    return out


def _payload(rng: random.Random, etype: str) -> dict:
    sha = lambda: "%040x" % rng.getrandbits(160)  # noqa: E731
    if etype == "PushEvent":
        n = rng.randint(1, 4)
        return {
            "push_id": rng.getrandbits(40), "size": n, "ref": "refs/heads/main",
            "pusher_type": "user",
            "commits": [
                {"sha": sha(), "message": f"fix #{rng.randint(1, 999)}",
                 "author": {"name": f"dev{rng.randint(1, 99)}", "email": "d@example.com"}}
                for _ in range(n)
            ],
        }
    if etype in ("PullRequestEvent", "PullRequestReviewEvent"):
        return {
            "action": rng.choice(("opened", "closed", "reopened")),
            "number": rng.randint(1, 5000),
            "pull_request": {"id": rng.getrandbits(32), "title": "update deps",
                             "head": {"ref": "feature", "sha": sha()}},
        }
    if etype in ("IssuesEvent", "IssueCommentEvent"):
        return {
            "action": rng.choice(("opened", "created", "closed")),
            "issue": {"number": rng.randint(1, 5000), "labels": [{"name": "bug"}]},
            "comment": {"body": "LGTM " * rng.randint(1, 3)},
        }
    if etype in ("CreateEvent", "DeleteEvent"):
        return {
            "ref": f"v{rng.randint(0, 9)}.{rng.randint(0, 9)}",
            "ref_type": rng.choice(("branch", "tag")),
            "master_branch": "main", "description": "a repository",
            "pusher_type": "user",
        }
    return {"action": "started"}


def _malformed(rng: random.Random, line: str) -> str:
    # every variant fails before the first field parses, so no engine can
    # recover a partial record from it
    kind = rng.randrange(3)
    if kind == 0:
        return line[1:]  # leading brace lost in transit
    if kind == 1:
        return "<html><body>502 Bad Gateway</body></html>"
    return '"rate limited"'


def event_batches(seed: int, n_batches: int, batch_size: int):
    """``n_batches`` lists of raw JSON lines plus the valid events behind
    them: ``[(lines, events)]``. Event ids are unique across batches; event
    time advances one window per batch, shuffled within it, with a few late
    events from the previous window."""
    rng = random.Random(f"events:{seed}")
    types = [t for t, _ in EVENT_TYPES]
    type_cw = _zipf_free_cum([w for _, w in EVENT_TYPES])
    actor_cw = _zipf_cum_weights(N_ACTORS, ACTOR_ZIPF_S)
    actor_ids = list(range(1, N_ACTORS + 1))
    rng.shuffle(actor_ids)  # popularity rank is not id order
    out, next_id = [], 10_000_000
    for b in range(n_batches):
        lines, events = [], []
        lo = EVENT_T0 + dt.timedelta(seconds=b * BATCH_WINDOW_S)
        for _ in range(batch_size):
            next_id += 1
            etype = rng.choices(types, cum_weights=type_cw)[0]
            actor = actor_ids[rng.choices(range(N_ACTORS), cum_weights=actor_cw)[0]]
            off = rng.randrange(BATCH_WINDOW_S)
            if b and rng.random() < LATE_SHARE:
                off -= BATCH_WINDOW_S
            ts = lo + dt.timedelta(seconds=off)
            repo = rng.randrange(1, N_REPOS + 1)
            ev = {
                "id": str(next_id), "type": etype,
                "actor": {"id": actor, "login": f"user{actor}",
                          "avatar_url": f"https://avatars.example.com/u/{actor}"},
                "repo": {"id": repo, "name": f"org{repo % 40}/repo{repo}",
                         "url": f"https://api.example.com/repos/{repo}"},
                "public": rng.random() < 0.97,
                "payload": _payload(rng, etype),
            }
            if rng.random() < ORG_SHARE:
                ev["org"] = {"id": repo % 40, "login": f"org{repo % 40}"}
            r = rng.random()
            has_ts = r >= MISSING_TS_SHARE
            if has_ts:
                ev["created_at"] = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
            elif r < MISSING_TS_SHARE * 0.3:
                ev["created_at"] = None
            line = json.dumps(ev, separators=(",", ":"))
            if rng.random() < MALFORMED_SHARE:
                lines.append(_malformed(rng, line))
                continue
            lines.append(line)
            if has_ts:
                events.append(
                    Event(str(next_id), etype, ts.strftime("%Y-%m-%d %H:%M:%S"), actor)
                )
        out.append((lines, events))
    return out


def _zipf_free_cum(weights: list[int]) -> list[int]:
    acc, out = 0, []
    for w in weights:
        acc += w
        out.append(acc)
    return out


# --- Web documents -------------------------------------------------------------

LANG_SHARES = (("en", 45), ("de", 15), ("es", 15), ("fr", 15), ("zh", 10))
_SYLLABLES = {
    "en": ("th", "an", "er", "on", "st", "re", "in", "ou", "ea", "ly"),
    "de": ("sch", "ei", "en", "ch", "ung", "ge", "ie", "ter", "au", "st"),
    "es": ("ci", "on", "es", "ar", "os", "la", "ue", "do", "ra", "mi"),
    "fr": ("eau", "ou", "ie", "qu", "ent", "le", "ai", "re", "on", "ch"),
    "zh": ("zh", "ang", "xi", "ong", "ao", "qi", "ui", "ng", "en", "li"),
}
VOCAB_PER_LANG = 4000
N_DOMAINS = 150
DOMAIN_ZIPF_S = 0.9  # a few mega-sites, a long tail of small ones
LOW_QUALITY_DOMAIN_SHARE = 0.10  # link farms: mostly stub pages
BLOCKED_DOMAIN_RANKS = (3, 11, 40)  # popularity ranks of blocklisted sites
RECRAWL_SHARE = 0.08  # same canonical URL, another spelling
EXACT_DUP_SHARE = 0.06  # mirrored text, case/whitespace changed
NEAR_DUP_SHARE = 0.16  # next link of a near-duplicate edit chain
CHAIN_MAX = 7  # links per chain: several CC rounds, well under 10 hops
CHAIN_EDIT = 0.04  # share of tokens rewritten per link (J ~ 0.9 to the parent)
GOPHER_FAIL_SHARE = 0.10  # boilerplate the Gopher gate must drop
SOURCES = ("web", "news", "forum")


def _vocab(rng: random.Random, lang: str) -> list[str]:
    syl = _SYLLABLES[lang]
    words: set[str] = set()
    while len(words) < VOCAB_PER_LANG:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _domain_name(k: int) -> str:
    if k % 7 == 3:
        return f"news{k}.co.uk"
    if k % 5 == 1:
        return f"site{k}.org"
    return f"site{k}.com"


def _host(rng: random.Random, domain: str) -> str:
    return rng.choice(("www.", "", "blog.")) + domain


def _url_variant(rng: random.Random, url: str) -> str:
    """Another spelling of ``url`` with the same canonical form."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    kind = rng.randrange(4)
    if kind == 0:
        return f"{scheme.upper()}://{host.upper()}:443/{path}"
    if kind == 1:
        return f"{url}{'&' if '?' in url else '?'}utm_source=feed&fbclid=x{rng.randrange(99)}"
    if kind == 2:
        return f"{url}#section-{rng.randrange(9)}"
    return f"{scheme}://{host}:443/{path}"


def _prose(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    toks = []
    for i in range(n):
        r = rng.random()
        if r < 0.07:
            toks.append("the")
        elif r < 0.11:
            toks.append("a")
        else:
            # Zipf-ish word choice: frequent words repeat, rare words rarely
            toks.append(vocab[int(len(vocab) * rng.random() ** 2.2)])
    return toks


def _lines(toks: list[str], rng: random.Random) -> str:
    out, i = [], 0
    while i < len(toks):
        w = rng.randint(8, 16)
        out.append(" ".join(toks[i : i + w]))
        i += w
    return "\n".join(out)


def _edit(rng: random.Random, toks: list[str], vocab: list[str]) -> list[str]:
    toks = list(toks)
    for _ in range(max(1, int(len(toks) * CHAIN_EDIT))):
        toks[rng.randrange(len(toks))] = rng.choice(vocab)
    return toks


def _gopher_reject(rng: random.Random, toks: list[str]) -> str:
    kind = rng.randrange(3)
    if kind == 0:  # no stopwords at all
        return _lines([t for t in toks if t not in ("the", "a")], rng)
    if kind == 1:  # the same boilerplate line over and over
        line = " ".join(toks[:10])
        return "\n".join([line] * 6 + [" ".join(toks[10:20])])
    return _lines([f"#{t}" if i % 3 == 0 else t for i, t in enumerate(toks)], rng)


@dataclass
class _DocState:
    doc_id: int
    url: str
    toks: list[str]
    lang: str
    chain_left: int


def _doc_stream(rng: random.Random, first_id: int, vocabs: dict, pool: list):
    """Endless documents; ``pool`` holds earlier documents for re-crawls,
    mirrors and chain links (shared across calls so later batches can
    duplicate earlier ones)."""
    langs = [lang for lang, _ in LANG_SHARES]
    lang_cw = _zipf_free_cum([w for _, w in LANG_SHARES])
    dom_cw = _zipf_cum_weights(N_DOMAINS, DOMAIN_ZIPF_S)
    low_q = {k for k in range(N_DOMAINS) if k % int(1 / LOW_QUALITY_DOMAIN_SHARE) == 7}
    doc_id = first_id
    while True:
        doc_id += 1
        k = rng.choices(range(N_DOMAINS), cum_weights=dom_cw)[0]
        domain = _domain_name(k)
        url = f"https://{_host(rng, domain)}/p/{doc_id}?id={doc_id}"
        source = rng.choice(SOURCES)
        r = rng.random()
        chains = [d for d in pool[-400:] if d.chain_left > 0]
        if pool and r < RECRAWL_SHARE:
            old = rng.choice(pool)
            url, toks, lang = _url_variant(rng, old.url), old.toks, old.lang
            text = _lines(toks, rng)
        elif pool and r < RECRAWL_SHARE + EXACT_DUP_SHARE:
            old = rng.choice(pool)
            toks, lang = old.toks, old.lang
            text = "  ".join(t.upper() if i % 5 == 0 else t for i, t in enumerate(toks))
        elif chains and r < RECRAWL_SHARE + EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            parent = rng.choice(chains)
            parent.chain_left -= 1
            lang = parent.lang
            toks = _edit(rng, parent.toks, vocabs[lang])
            text = _lines(toks, rng)
            pool.append(_DocState(doc_id, url, toks, lang, parent.chain_left))
            parent.chain_left = 0  # a chain, not a tree: one child per link
        else:
            lang = rng.choices(langs, cum_weights=lang_cw)[0]
            if k in low_q and rng.random() < 0.8:
                n = rng.randint(12, 40)  # stub page under the quality floor
            else:
                n = min(600, int(rng.lognormvariate(4.6, 0.5)) + 20)
            toks = _prose(rng, vocabs[lang], n)
            if rng.random() < GOPHER_FAIL_SHARE:
                text = _gopher_reject(rng, toks)
            else:
                text = _lines(toks, rng)
                pool.append(_DocState(doc_id, url, toks, lang, CHAIN_MAX - 1))
        yield {"doc_id": doc_id, "url": url, "text": text, "lang": lang, "source": source}


def corpus(seed: int, n_docs: int) -> list[dict]:
    """One crawl of ``n_docs`` documents (doc_id, url, text, lang, source)."""
    rng = random.Random(f"corpus:{seed}")
    vocabs = {lang: _vocab(rng, lang) for lang, _ in LANG_SHARES}
    stream = _doc_stream(rng, 0, vocabs, [])
    return [next(stream) for _ in range(n_docs)]


def blocked_domains() -> list[str]:
    return [_domain_name(k) for k in BLOCKED_DOMAIN_RANKS]


CROSS_EPOCH_SHARE = 0.25  # fold batches: links/mirrors of earlier epochs


def fold_batches(seed: int, n_epochs: int, batch_size: int) -> list[list[dict]]:
    """``n_epochs`` arrival batches of (doc_id, text). A quarter of each
    later batch continues chains or mirrors documents of EARLIER epochs, so
    every fold must probe the committed index; the rest is fresh text with
    its own in-batch chains."""
    rng = random.Random(f"folds:{seed}")
    vocabs = {lang: _vocab(rng, lang) for lang, _ in LANG_SHARES}
    pool: list = []
    stream = _doc_stream(rng, 0, vocabs, pool)
    out = []
    for e in range(n_epochs):
        history = len(pool)
        batch = []
        for _ in range(batch_size):
            if e and rng.random() < CROSS_EPOCH_SHARE:
                parent = pool[rng.randrange(history)]
                doc = next(stream)  # consume an id; replace its text
                toks = _edit(rng, parent.toks, vocabs[parent.lang])
                doc["text"] = _lines(toks, rng)
            else:
                doc = next(stream)
            batch.append({"doc_id": doc["doc_id"], "text": doc["text"]})
        out.append(batch)
    return out
