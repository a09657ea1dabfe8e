"""Seeded input generators, one per workload.

Each generator writes parquet files (pyarrow, one file per table) into a
directory it is given and returns a small ``manifest`` dict describing
what it planted, which the workload's output check reads. The same seed
gives byte-identical files: every random draw comes from one
``numpy.random.default_rng`` per table, derived from the seed and the
table name, and nothing depends on wall-clock time or dict order.

The program never sees the generator; it only reads the files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def rng_for(seed: int, name: str) -> np.random.Generator:
    """Independent stream per (seed, table): adding a table never shifts
    the draws of another."""
    digest = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def write_table(out_dir: str, name: str, columns: dict, schema: pa.Schema) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    table = pa.Table.from_pydict(columns, schema=schema)
    pq.write_table(table, path, compression="snappy")
    return path


def sizes(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[int]:
    """``n`` sizes cycling through lo..hi-1, in seeded order: the total
    work is the same for every seed, only its arrangement changes."""
    vals = [lo + i % (hi - lo) for i in range(n)]
    return [vals[i] for i in rng.permutation(n)]


def _ts_us(rng: np.random.Generator, n: int, start: dt.datetime, end: dt.datetime):
    lo = int(start.timestamp() * 1_000_000)
    hi = int(end.timestamp() * 1_000_000)
    return rng.integers(lo, hi, size=n, dtype=np.int64)


# ---------------------------------------------------------------- recsys
# FIXTURES.md section A: repo_info / starring (the tables the serve
# workload's pipelines read).

CURATOR_IDS = (652070, 1912583, 59990, 646843, 28702)
UTC_US = pa.timestamp("us", tz="UTC")

REPO_INFO = pa.schema([
    ("repo_id", pa.int32(), False), ("repo_owner_id", pa.int32(), False),
    ("repo_owner_username", pa.string(), False),
    ("repo_owner_type", pa.string(), False), ("repo_name", pa.string(), False),
    ("repo_full_name", pa.string(), False), ("repo_description", pa.string()),
    ("repo_language", pa.string()), ("repo_created_at", UTC_US, False),
    ("repo_updated_at", UTC_US, False), ("repo_pushed_at", UTC_US, False),
    ("repo_homepage", pa.string()), ("repo_size", pa.int32(), False),
    ("repo_stargazers_count", pa.int32(), False),
    ("repo_forks_count", pa.int32(), False),
    ("repo_subscribers_count", pa.int32(), False),
    ("repo_is_fork", pa.bool_(), False), ("repo_has_issues", pa.bool_(), False),
    ("repo_has_projects", pa.bool_(), False),
    ("repo_has_downloads", pa.bool_(), False),
    ("repo_has_wiki", pa.bool_(), False), ("repo_has_pages", pa.bool_(), False),
    ("repo_open_issues_count", pa.int32(), False), ("repo_topics", pa.string()),
])
STARRING = pa.schema([
    ("user_id", pa.int32(), False), ("repo_id", pa.int32(), False),
    ("starred_at", UTC_US, False), ("starring", pa.float64(), False),
])
_LANGS = ["JavaScript", "Python", "Java", "Go", "Ruby", "C++", "Rust",
          "TypeScript", "", "Elm", "Nim"]
NEUTRAL_DESCS = ("a web framework", "machine learning toolkit",
                 "awesome curated list", "fast json parser", "cli tool for git",
                 "react component library", "distributed task queue")
_DESCS = ["deprecated, no longer maintained", "my blog", "demo project for class",
          "作業", "", *NEUTRAL_DESCS]
_TOPICS = ["python,machine-learning", "web,framework", "cli,git",
           "react,ui", "database,sql", ""]


def _pick(rng, choices, n, null_p=0.0):
    idx = rng.integers(0, len(choices), size=n)
    nulls = rng.random(n) < null_p
    return [None if z else choices[i] for i, z in zip(idx, nulls)]


def recsys(out_dir: str, seed: int, n_users: int, n_repos: int) -> dict:
    """albedo-shaped tables. The curators, the pinned user and 15 % of
    the others star 30-59 repos each (the eval sample, with
    non-degenerate NDCG@30); the rest star 1-29. Star counts are a fixed
    multiset, so every seed gives the same number of stars."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "user_ids")
    others = rng.choice(np.arange(1, 3_000_000), n_users - len(CURATOR_IDS),
                        replace=False)
    user_ids = sorted(int(u) for u in others) + list(CURATOR_IDS)
    repo_ids = sorted(int(r) for r in rng_for(seed, "repo_ids").choice(
        np.arange(1, 5_000_000), n_repos, replace=False))

    n = len(user_ids)

    r = rng_for(seed, "repo_info")
    m = len(repo_ids)
    owners = r.choice(user_ids, m).tolist()
    stars = np.minimum(
        (r.pareto(0.6, m)).astype(np.int64) + r.choice([0, 30, 1000, 5000], m),
        290_000)
    created = _ts_us(r, m, dt.datetime(2010, 1, 1), dt.datetime(2016, 6, 1))
    write_table(out_dir, "repo_info", {
        "repo_id": repo_ids,
        "repo_owner_id": owners,
        "repo_owner_username": [f"user{o}" for o in owners],
        "repo_owner_type": ["User"] * m,
        "repo_name": [f"repo{x}" for x in repo_ids],
        "repo_full_name": [f"user{o}/repo{x}" for o, x in zip(owners, repo_ids)],
        "repo_description": _pick(r, _DESCS, m, 0.15),
        "repo_language": [f"RareLang{x % 7}" if y < 0.04 else _LANGS[i]
                          for x, y, i in zip(repo_ids, r.random(m),
                                             r.integers(0, len(_LANGS), m))],
        "repo_created_at": created.tolist(),
        "repo_updated_at": (created + r.integers(0, 400, m) * 86_400_000_000).tolist(),
        "repo_pushed_at": (created + r.integers(0, 500, m) * 86_400_000_000).tolist(),
        "repo_homepage": [None if x < 0.6 else f"https://repo{i}.dev"
                          for i, x in zip(repo_ids, r.random(m))],
        "repo_size": r.integers(0, 500_000, m).tolist(),
        "repo_stargazers_count": stars.tolist(),
        "repo_forks_count": (stars * r.random(m) * 0.3).astype(np.int64).tolist(),
        "repo_subscribers_count": (stars * r.random(m) * 0.2).astype(np.int64).tolist(),
        "repo_is_fork": (r.random(m) < 0.1).tolist(),
        "repo_has_issues": [True] * m,
        "repo_has_projects": (r.random(m) < 0.5).tolist(),
        "repo_has_downloads": [True] * m,
        "repo_has_wiki": (r.random(m) < 0.5).tolist(),
        "repo_has_pages": (r.random(m) < 0.2).tolist(),
        "repo_open_issues_count": r.integers(0, 500, m).tolist(),
        "repo_topics": _pick(r, _TOPICS, m, 0.0),
    }, REPO_INFO)

    r = rng_for(seed, "starring")
    # Popular repos draw more stars: a Zipf-like item weight.
    weight = 1.0 / np.arange(1, m + 1) ** 0.8
    weight = weight[r.permutation(m)]
    weight /= weight.sum()
    others = [u for u in user_ids if u not in CURATOR_IDS]
    n_heavy = len(others) * 15 // 100
    heavy = set(CURATOR_IDS) | {others[i] for i in r.permutation(len(others))[:n_heavy]}
    heavy_k = iter(sizes(r, len(heavy), 30, 60))
    light_k = iter(sizes(r, n - len(heavy), 1, 30))
    su, sr = [], []
    for u in user_ids:
        k = next(heavy_k) if u in heavy else next(light_k)
        picks = r.choice(m, size=min(k, m), replace=False, p=weight)
        su += [u] * len(picks)
        sr += [repo_ids[i] for i in picks]
    st = _ts_us(r, len(su), dt.datetime(2013, 1, 1), dt.datetime(2017, 6, 1))
    write_table(out_dir, "starring", {
        "user_id": su, "repo_id": sr, "starred_at": st.tolist(),
        "starring": [1.0] * len(su),
    }, STARRING)

    counts: dict[int, int] = {}
    for u in su:
        counts[u] = counts.get(u, 0) + 1
    eval_users = sorted(u for u, c in counts.items() if c >= 30)
    return {"n_users": n, "n_repos": m, "n_starring": len(su),
            "eval_users": eval_users}


# ---------------------------------------------------------------- corpus
# Per-language vocabularies of everyday words, written for this benchmark.

LANG_WORDS = {
    "en": ("the of and to in is it that was for on are with as his they be at "
           "one have this from by hot word but what some we can out other were "
           "all there when up use your how said an each she which do their time "
           "if will way about many then them write would like so these her long "
           "make thing see him two has look more day could go come did number "
           "sound no most people my over know water than call first who may down "
           "side been now find any new work part take get place made live where "
           "after back little only round man year came show every good me give "
           "our under name very through just form sentence great think say help").split(),
    "de": ("der die und in den von zu das mit sich des auf für ist im dem nicht "
           "ein eine als auch es an werden aus er hat dass sie nach wird bei "
           "einer um am sind noch wie einem über einen so zum war haben nur oder "
           "aber vor zur bis mehr durch man sein wurde sei prozent hatte kann "
           "gegen vom können schon wenn habe seine mark ihre dann unter wir soll "
           "ich eines jahr zwei jahren diese dieser wieder keine seiner worden "
           "will zwischen immer millionen was sagte gibt alle seit muss doch "
           "jetzt drei neue damit bereits da").split(),
    "fr": ("de la le et les des en un du une que est pour qui dans a par plus "
           "pas au sur ne se le ce il sont avec ou son aux mais nous comme "
           "cette sa leur ont elle on y tout ses aussi leurs deux peut fait "
           "sans entre dont ces donc bien faire avait encore avant depuis "
           "temps autres contre fois sous alors non premier toujours selon "
           "ainsi part moins entre grand tous dire jour monde pays vie trois "
           "après chez petit rien maison nouveau jamais ville travail eau").split(),
    "es": ("de la que el en y a los del se las por un para con no una su al "
           "lo como más pero sus le ya o este sí porque esta entre cuando muy "
           "sin sobre también me hasta hay donde quien desde todo nos durante "
           "todos uno les ni contra otros ese eso ante ellos e esto mí antes "
           "algunos qué unos yo otro otras otra él tanto esa estos mucho "
           "quienes nada muchos cual poco ella estar estas algunas algo "
           "nosotros mi mis tú te ti tu tus ellas nosotras vosotros casa agua").split(),
    "zh": list("的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年得"
               "就那要下以生会自着去之过家学对可她里后小么心多天而能好都然没"
               "日于起还发成事只作当想看文无开手十用主行方又如前所本见经头面"),
}
LANG_MIX = {"en": 0.45, "de": 0.15, "fr": 0.15, "es": 0.15, "zh": 0.10}
COMMON_HOST = "www.bigfarm.example"


def _doc_text(rng, lang: str, n_words: int) -> str:
    """Words drawn uniformly, so two unrelated documents share almost no
    3-word shingle and the near-duplicate candidates are the planted
    ones: the MinHash work does not depend on the seed."""
    words = LANG_WORDS[lang]
    sep = "" if lang == "zh" else " "
    return sep.join(words[i] for i in rng.integers(0, len(words), n_words))


def corpus(out_dir: str, seed: int, n_docs: int, host_cap: int) -> dict:
    """A documents table with a ``url`` column and planted cases:
    exact duplicates, near duplicates (one word replaced), duplicate
    URLs under fragment/tracking/case noise, one very common host, five
    languages and PII (emails, phone numbers). Planted docs sit on
    their own hosts with unique URLs, so the URL and host stages never
    remove them."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "documents")
    n_extra = max(2, n_docs // 50)
    langs = [k for k, p in LANG_MIX.items() for _ in range(round(p * (n_docs + n_extra)))]
    langs += ["en"] * (n_docs + n_extra - len(langs))
    langs = [langs[i] for i in r.permutation(len(langs))]
    lengths = sizes(r, n_docs + n_extra, 30, 90)
    n_exact = max(2, n_docs // 100)       # groups of 2 or 3 identical texts
    n_near = max(2, n_docs // 100)        # pairs differing in one word
    n_urldup = n_extra                    # extra fetches of a base URL
    n_common = max(host_cap + 10, n_docs // 5)

    texts, dlangs, urls = [], [], []
    for i in range(n_docs):
        lang = langs[i]
        text = _doc_text(r, lang, lengths[i])
        if i % 20 == 7:
            text += f" contact{i}@mail.example +1 415 555 {1000 + i % 9000:04d}"
        texts.append(text)
        dlangs.append(lang)
        host = COMMON_HOST if i < n_common else f"site{i % 997}.example"
        urls.append(f"https://{host}/p/{i}")

    exact_groups, near_pairs = [], []
    slot = n_common                        # planted copies overwrite docs here
    for g in range(n_exact):
        size = 2 + g % 2
        ids = list(range(slot, slot + size))
        for j in ids[1:]:
            texts[j], dlangs[j] = texts[ids[0]], dlangs[ids[0]]
        exact_groups.append(ids)
        slot += size
    for _ in range(n_near):
        # Word shingles need spaces, so near duplicates are English: a
        # long text and a copy with its last word replaced (Jaccard of
        # 3-word shingles well above the CLI's 0.8).
        a, b = slot, slot + 1
        texts[a], dlangs[a] = _doc_text(r, "en", 80), "en"
        texts[b], dlangs[b] = texts[a].rsplit(" ", 1)[0] + " zebra", "en"
        near_pairs.append((a, b))
        slot += 2
    for j in range(n_common, slot):
        urls[j] = f"https://planted{j}.example/doc"

    # Duplicate URLs: extra fetches of later docs' URLs under noise that
    # canonicalization removes; they carry fresh text.
    base_ids = list(range(slot, n_docs))
    for k in range(n_urldup):
        base = base_ids[int(r.integers(0, len(base_ids)))]
        host, path = urls[base][len("https://"):].split("/", 1)
        variant = f"HTTPS://{host.upper()}/{path}/?utm_source=feed{k}#top"
        lang = langs[n_docs + k]
        texts.append(_doc_text(r, lang, lengths[n_docs + k]))
        dlangs.append(lang)
        urls.append(variant)
    total = len(texts)

    sources = [f"src{int(x)}" for x in r.integers(0, 20, total)]
    write_table(out_dir, "documents", {
        "doc_id": list(range(total)),
        "text": texts,
        "lang": dlangs,
        "source": sources,
        "n_chars": [len(t) for t in texts],
        "url": urls,
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64()), ("url", pa.string())]))

    n_after_url = total - n_urldup
    hosts: dict[str, int] = {}
    for u in urls[:n_docs]:
        h = u.split("/")[2].lower()
        h = h[4:] if h.startswith("www.") else h
        hosts[h] = hosts.get(h, 0) + 1
    excess = sum(max(0, c - host_cap) for c in hosts.values())
    return {
        "n_docs": total,
        "exact_groups": exact_groups,
        "near_pairs": near_pairs,
        "n_url_duplicates": n_urldup,
        "n_after_url_dedup": n_after_url,
        "n_after_host_cap": n_after_url - excess,
        "common_host_docs": n_common,
    }


# ---------------------------------------------------------------- serve

SERVE_VOCAB = [f"w{i:04d}" for i in range(3000)]


def serve(out_dir: str, seed: int, n_docs: int, n_append_docs: int,
          passes: list[list[str]]) -> dict:
    """A Zipf-vocabulary document collection (the first ``n_docs`` go
    into the store, the rest are the append pool) and, per pass, the
    contents of one request per entry of that pass's list of kinds.

    The Zipf exponent gives queries high-df terms: the head of the
    vocabulary appears in most documents. A keyword query is one head,
    one mid and one tail term; a "more like this" query is a whole
    stored 40-word document."""
    os.makedirs(out_dir, exist_ok=True)
    total = n_docs + n_append_docs
    r = rng_for(seed, "serve_docs")
    v = len(SERVE_VOCAB)
    texts = []
    for n_words in sizes(r, total, 20, 60):
        ranks = np.minimum(r.zipf(1.2, n_words) - 1, v - 1)
        texts.append(" ".join(SERVE_VOCAB[i] for i in ranks))
    write_table(out_dir, "docs", {"doc_id": list(range(total)), "text": texts},
                pa.schema([("doc_id", pa.int64()), ("text", pa.string())]))

    r = rng_for(seed, "serve_requests")
    mlt_docs = [i for i in range(n_docs) if len(texts[i].split()) == 40]
    requests = []
    for kinds in passes:
        requests.append([])
        for kind in kinds:
            # One head term (in most docs), one mid and one tail term.
            ranks = [int(r.integers(0, 5)), int(r.integers(20, 200)),
                     int(r.integers(500, v))]
            requests[-1].append({
                "kind": kind,
                "text": " ".join(SERVE_VOCAB[j] for j in ranks),
                "doc_id": mlt_docs[int(r.integers(0, len(mlt_docs)))],
            })
    return {"requests": requests, "texts": texts}


# ---------------------------------------------------------------- catalog
# The embeddings table of the repo's query catalog, in the shape of its
# fixtures: 64-d unit vectors around ten labelled centres.

def embeddings(out_dir: str, seed: int, n_emb: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "embeddings")
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.5 + r.normal(0, 1, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write_table(out_dir, "embeddings", {
        "vec_id": list(range(n_emb)),
        "embedding": vecs.astype(np.float32).tolist(),
        "label": labels.tolist(),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))
    return {"embeddings": n_emb}
