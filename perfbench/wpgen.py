"""Seeded WordPress input generator and the export's expected output.

``make_site(seed, scale)`` draws every row of the eight ``wp_*`` tables
(FIXTURES.md family A) from one seed: drafts, pages and attachments among
the posts, posts with a NULL, zero or dangling author, posts with no
category, users missing one EAV key (the authors inner join drops them),
``&amp;`` in term names, category parents several levels deep and
``_thumbnail_id`` postmeta. Attachment GUIDs are written only by
``write_tables(site, dir, origin_base)``, once the asset origin's port is
known.

``expected_export(site, ...)`` is an independent pure-Python model of what
the export CLI writes for those tables, used to check its output per
entry.
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the of and to in is for on with as by at from that this post page site "
    "media blog news data export content author category archive draft "
    "image gallery theme plugin widget menu comment feed link tag search "
    "spark table query join shuffle cache index vector stream batch window"
).split()

SITEURL = "http://blog.example.com"
PERMALINK = "/%year%/%monthnum%/%postname%/"
DLQ_ERROR_500 = "RuntimeError: status code: 500"
# the error text a transport failure leaves in wp_failed.json
LOST_ERROR = "URLError: <urlopen error [Errno 111] Connection refused>"

#: Origin behaviour per attachment URL, in these shares.
BEHAVIOURS = ("ok", "fail", "flaky", "redirect")
BEHAVIOUR_WEIGHTS = (0.82, 0.06, 0.06, 0.06)

#: Rows per table per unit of ``scale`` (scale=1 is the benchmark size).
POSTS_PER_SCALE = 3000


@dataclass
class Site:
    seed: int
    tables: dict[str, dict[str, list]]
    #: attachment id -> (upload path, behaviour, body length, filename)
    assets: dict[int, tuple[str, str, int, str]] = field(default_factory=dict)

    def table_rows(self) -> dict[str, int]:
        return {name: len(next(iter(cols.values()))) for name, cols in self.tables.items()}


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def asset_body(seed: int, aid: int, length: int) -> bytes:
    """Deterministic asset bytes: the origin serves them and the checks
    recompute them."""
    return np.random.default_rng([seed, aid]).integers(0, 256, length, dtype=np.uint8).tobytes()


def make_site(seed: int, scale: float = 1.0) -> Site:
    rng = np.random.default_rng(seed)
    n_posts = max(40, int(POSTS_PER_SCALE * scale))
    n_users = max(4, n_posts // 100)
    n_cats, n_tags = max(12, int(200 * min(scale, 1.0))), 30

    # ---- users + usermeta (EAV); ~10% miss one of the three keys
    users = {"ID": [], "user_login": [], "user_email": []}
    usermeta = {"umeta_id": [], "user_id": [], "meta_key": [], "meta_value": []}
    for uid in range(1, n_users + 1):
        login = f"{WORDS[int(rng.integers(len(WORDS)))]}_{uid}"
        users["ID"].append(uid)
        users["user_login"].append(login)
        users["user_email"].append(f"{login}@example.com")
        keys = ["first_name", "last_name", "description", "nickname"]
        if rng.random() < 0.1:
            keys.remove(keys[int(rng.integers(3))])
        for k in keys:
            usermeta["umeta_id"].append(len(usermeta["umeta_id"]) + 1)
            usermeta["user_id"].append(uid)
            usermeta["meta_key"].append(k)
            usermeta["meta_value"].append(_words(rng, 3 if k == "description" else 1).title())

    # ---- terms + taxonomy: a category tree several levels deep, plus tags
    terms = {"term_id": [], "name": [], "slug": []}
    tt = {"term_taxonomy_id": [], "term_id": [], "taxonomy": [], "description": [], "parent": []}
    cat_tt, tag_tt = [], []
    for i in range(n_cats + n_tags):
        term_id = 100 + i
        is_cat = i < n_cats
        name = _words(rng, 2).title()
        if rng.random() < 0.2:
            name = name.replace(" ", " &amp; ", 1)
        terms["term_id"].append(term_id)
        terms["name"].append(name)
        terms["slug"].append(f"{'cat' if is_cat else 'tag'}-{i}-{name.split()[0].lower()}")
        # roots first; later categories hang under a random earlier one,
        # which yields chains several levels deep
        parent = 0
        if is_cat and i >= 5 and rng.random() < 0.8:
            parent = 100 + int(rng.integers(0, i))
        ttid = 5000 + i
        tt["term_taxonomy_id"].append(ttid)
        tt["term_id"].append(term_id)
        tt["taxonomy"].append("category" if is_cat else "post_tag")
        tt["description"].append(_words(rng, 4) + (" &amp; more" if rng.random() < 0.1 else ""))
        tt["parent"].append(parent)
        (cat_tt if is_cat else tag_tt).append(ttid)

    # ---- posts: posts, pages, attachments; publish, draft, private
    posts = {c: [] for c in (
        "ID", "post_author", "post_date", "post_date_gmt", "post_title", "post_name",
        "post_content", "post_status", "post_type", "guid",
    )}
    rel = {"object_id": [], "term_taxonomy_id": []}
    base_ts = 1_500_000_000_000_000  # 2017-07-14 in epoch micros
    assets: dict[int, tuple[str, str, int, str]] = {}
    # exact shares, so every seed yields the same amount of work
    n_att, n_page = round(0.04 * n_posts), round(0.06 * n_posts)
    types = rng.permutation(["attachment"] * n_att + ["page"] * n_page + ["post"] * (n_posts - n_att - n_page))
    counts = [max(1, round(w * n_att)) for w in BEHAVIOUR_WEIGHTS[1:]]
    behaviours = list(rng.permutation(
        [b for b, c in zip(BEHAVIOURS[1:], counts) for _ in range(c)] + ["ok"] * (n_att - sum(counts))))
    for pid, ptype in zip(range(1, n_posts + 1), types):
        ptype = str(ptype)
        status = (
            "inherit" if ptype == "attachment"
            else "draft" if rng.random() < 0.08
            else "private" if rng.random() < 0.02
            else "publish"
        )
        a = rng.random()
        author = None if a < 0.02 else 0 if a < 0.05 else n_users + 7 if a < 0.08 else int(rng.integers(1, n_users + 1))
        gmt = base_ts + int(rng.integers(0, 200_000_000)) * 1_000_000 + int(rng.integers(0, 1000)) * 1000
        title = _words(rng, 5).capitalize()
        body = "".join(f"<p>{_words(rng, 25)}</p>\n" for _ in range(int(rng.integers(5, 9))))
        posts["ID"].append(pid)
        posts["post_author"].append(author)
        posts["post_date"].append(gmt + 3_600_000_000)
        posts["post_date_gmt"].append(gmt)
        posts["post_title"].append(title)
        posts["post_name"].append(f"{title.lower().replace(' ', '-')}-{pid}")
        posts["post_content"].append(body if ptype != "attachment" else "")
        posts["post_status"].append(status)
        posts["post_type"].append(ptype)
        if ptype == "attachment":
            behaviour = str(behaviours.pop())
            fname = f"img-{pid}-{WORDS[int(rng.integers(len(WORDS)))]}.jpg"
            assets[pid] = (f"/wp-content/uploads/{pid % 12 + 1:02d}/{fname}", behaviour,
                           int(rng.integers(512, 4096)), fname)
            posts["guid"].append(None)  # filled by write_tables
        else:
            posts["guid"].append(f"{SITEURL}/?p={pid}")
        if ptype != "attachment":
            n_c = 0 if rng.random() < 0.1 else int(rng.integers(1, 5))
            for ttid in rng.choice(cat_tt, n_c, replace=False):
                rel["object_id"].append(pid)
                rel["term_taxonomy_id"].append(int(ttid))
            for ttid in rng.choice(tag_tt, int(rng.integers(0, 3)), replace=False):
                rel["object_id"].append(pid)
                rel["term_taxonomy_id"].append(int(ttid))

    # ---- postmeta: one _thumbnail_id for ~40% of posts, plus noise keys
    att_ids = sorted(assets)
    postmeta = {"meta_id": [], "post_id": [], "meta_key": [], "meta_value": []}
    for pid, ptype in zip(posts["ID"], posts["post_type"]):
        if ptype == "attachment":
            continue
        if att_ids and rng.random() < 0.4:
            postmeta["meta_id"].append(len(postmeta["meta_id"]) + 1)
            postmeta["post_id"].append(pid)
            postmeta["meta_key"].append("_thumbnail_id")
            postmeta["meta_value"].append(str(att_ids[int(rng.integers(len(att_ids)))]))
        if rng.random() < 0.3:
            postmeta["meta_id"].append(len(postmeta["meta_id"]) + 1)
            postmeta["post_id"].append(pid)
            postmeta["meta_key"].append("_edit_lock")
            postmeta["meta_value"].append(str(int(rng.integers(1 << 30))))

    options = {
        "option_id": [1, 2, 3, 4],
        "option_name": ["siteurl", "blogname", "permalink_structure", "home"],
        "option_value": [SITEURL, "Example Blog", PERMALINK, SITEURL],
    }
    tables = {
        "posts": posts, "users": users, "usermeta": usermeta, "postmeta": postmeta,
        "terms": terms, "term_taxonomy": tt, "term_relationships": rel, "options": options,
    }
    return Site(seed=seed, tables=tables, assets=assets)


_SCHEMAS = {
    "posts": pa.schema([
        ("ID", pa.int64()), ("post_author", pa.int64()),
        ("post_date", pa.timestamp("us")), ("post_date_gmt", pa.timestamp("us")),
        ("post_title", pa.string()), ("post_name", pa.string()), ("post_content", pa.string()),
        ("post_status", pa.string()), ("post_type", pa.string()), ("guid", pa.string()),
    ]),
    "users": pa.schema([("ID", pa.int64()), ("user_login", pa.string()), ("user_email", pa.string())]),
    "usermeta": pa.schema([("umeta_id", pa.int64()), ("user_id", pa.int64()),
                           ("meta_key", pa.string()), ("meta_value", pa.string())]),
    "postmeta": pa.schema([("meta_id", pa.int64()), ("post_id", pa.int64()),
                           ("meta_key", pa.string()), ("meta_value", pa.string())]),
    "terms": pa.schema([("term_id", pa.int64()), ("name", pa.string()), ("slug", pa.string())]),
    "term_taxonomy": pa.schema([("term_taxonomy_id", pa.int64()), ("term_id", pa.int64()),
                                ("taxonomy", pa.string()), ("description", pa.string()),
                                ("parent", pa.int64())]),
    "term_relationships": pa.schema([("object_id", pa.int64()), ("term_taxonomy_id", pa.int64())]),
    "options": pa.schema([("option_id", pa.int64()), ("option_name", pa.string()),
                          ("option_value", pa.string())]),
}


def write_tables(site: Site, out_dir: str, origin_base: str) -> None:
    """Write ``wp_<table>.parquet`` files; attachment GUIDs point at
    ``origin_base`` (``http://127.0.0.1:<port>``)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in site.tables.items():
        if name == "posts":
            cols = dict(cols)
            cols["guid"] = [
                origin_base + site.assets[pid][0] if g is None else g
                for pid, g in zip(cols["ID"], cols["guid"])
            ]
        table = pa.table(cols, schema=_SCHEMAS[name])
        pq.write_table(table, os.path.join(out_dir, f"wp_{name}.parquet"), compression="snappy")


# --------------------------------------------------------------------------
# expected output model


_ODD_RUN = re.compile(r"(?<![/])(?:(?:[/]{2})*[/])(?![/])")


def host_strip(url: str) -> str:
    m = _ODD_RUN.search(url)
    if m:
        return "/" + url[m.end():]
    if "/" in url:
        return "/" + url[url.rindex("/"):]
    return "/" + url


def slugify(text: str) -> str:
    return re.sub(r"[^a-z0-9_-]+", "-", text.lower())


def iso8601(micros: int) -> str:
    import datetime as dt

    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=micros)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def permalink(micros: int, post_name: str) -> str:
    iso = iso8601(micros)
    return f"/{iso[:4]}/{iso[5:7]}/{post_name}/"


def encode_uri(url: str) -> str:
    return urllib.parse.quote(url, safe="!#$&'()*+,-./:;=?@_~")


def _rows(cols: dict[str, list]):
    names = list(cols)
    return [dict(zip(names, vals)) for vals in zip(*cols.values())]


def expected_export(
    site: Site, origin_base: str, ids: set[int] | None = None, prior: dict | None = None
) -> dict:
    """Documents the export writes, as ``{relative path: parsed JSON}``,
    plus ``"__files__"``: ``{asset relative path: bytes}`` and
    ``"__requests__"``: expected origin requests per behaviour.

    ``ids`` narrows every module (the ``--ids-file`` re-drive); ``prior``
    is the restored state that an ids run merges into."""
    t = site.tables
    sel = (lambda i: True) if ids is None else (lambda i: i in ids)
    docs: dict[str, dict] = {}

    # posts
    logins = dict(zip(t["users"]["ID"], t["users"]["user_login"]))
    cat_tt = {
        ttid: tid for ttid, tid, tax in zip(
            t["term_taxonomy"]["term_taxonomy_id"], t["term_taxonomy"]["term_id"],
            t["term_taxonomy"]["taxonomy"],
        ) if tax == "category"
    }
    slug_of = dict(zip(t["terms"]["term_id"], t["terms"]["slug"]))
    cats: dict[int, list[str]] = {}
    for oid, ttid in zip(t["term_relationships"]["object_id"], t["term_relationships"]["term_taxonomy_id"]):
        if ttid in cat_tt:
            cats.setdefault(oid, []).append(slug_of[cat_tt[ttid]])
    pub = {
        p["ID"] for p in _rows(t["posts"]) if p["post_type"] == "post" and p["post_status"] == "publish"
    }
    featured = {
        pid: v for pid, k, v in zip(t["postmeta"]["post_id"], t["postmeta"]["meta_key"], t["postmeta"]["meta_value"])
        if k == "_thumbnail_id" and pid in pub
    }
    posts = {}
    for p in _rows(t["posts"]):
        if p["ID"] not in pub or not sel(p["ID"]):
            continue
        login = logins.get(p["post_author"])
        entry = {
            "title": p["post_title"],
            "url": permalink(p["post_date_gmt"], p["post_name"]),
            "author": login.split(",") if login is not None else [],
            "date": iso8601(p["post_date_gmt"]),
            "guid": host_strip(p["guid"]),
            "full_description": p["post_content"],
            "uid": p["ID"],
            "category": sorted(cats.get(p["ID"], [])),
        }
        if p["ID"] in featured:
            entry["featured_image"] = featured[p["ID"]]
        posts[str(p["ID"])] = entry

    # authors: inner join on all three EAV keys
    meta: dict[int, dict[str, str]] = {}
    for uid, k, v in zip(t["usermeta"]["user_id"], t["usermeta"]["meta_key"], t["usermeta"]["meta_value"]):
        meta.setdefault(uid, {})[k] = v
    authors = {}
    for u in _rows(t["users"]):
        m = meta.get(u["ID"], {})
        if not sel(u["ID"]) or not all(k in m for k in ("first_name", "last_name", "description")):
            continue
        authors[u["user_login"]] = {
            "ID": u["ID"], "title": u["user_login"], "url": "/author/" + slugify(u["user_login"]),
            "email": u["user_email"], "first_name": m["first_name"], "last_name": m["last_name"],
            "biographical_info": m["description"], "uid": u["user_login"],
        }

    # categories: parent slug via the unfiltered category set
    nodes = {}
    for ttid, tid, tax, desc, parent in zip(*t["term_taxonomy"].values()):
        if tax == "category":
            nodes[tid] = (desc, parent)
    name_of = dict(zip(t["terms"]["term_id"], t["terms"]["name"]))
    categories = {}
    for tid, (desc, parent) in nodes.items():
        if not sel(tid):
            continue
        slug = slug_of[tid]
        categories[slug] = {
            "id": tid, "title": name_of[tid].replace("&amp;", "&"),
            "url": "/category/" + slugify(slug.lower()),
            "description": desc.replace("&amp;", "&"),
            "parent": [slug_of[parent]] if parent != 0 else [""], "uid": slug,
        }

    # assets: the origin's behaviour decides downloaded vs dead-lettered
    prior_files = set(prior["__files__"]) if prior else set()
    files: dict[str, bytes] = {}
    requests = {b: 0 for b in BEHAVIOURS}
    asset_entries, failed = {}, {}
    for aid, (path, behaviour, length, fname) in sorted(site.assets.items()):
        if not sel(aid):
            continue
        rel_path = f"assets/{aid}/{fname}"
        if rel_path not in prior_files:
            requests[behaviour] += 1 if behaviour == "ok" else 2
        if behaviour == "fail":
            failed[str(aid)] = DLQ_ERROR_500
            continue
        files[rel_path] = asset_body(site.seed, aid, length)
        asset_entries[str(aid)] = {
            "uid": aid, "filename": fname, "url": encode_uri(origin_base + path), "status": True,
        }

    docs["entries/posts/en-us.json"] = posts
    docs["entries/authors/en-us.json"] = authors
    docs["entries/categories/en-us.json"] = categories
    docs["assets/wp_assets.json"] = asset_entries
    for m, d in (("posts", posts), ("authors", authors), ("categories", categories)):
        docs[f"master/entries/{m}.json"] = {"en-us": {k: "" for k in d}}
    docs["master/wp_assets.json"] = {k: "" for k in asset_entries}
    docs["master/wp_urls.json"] = {e["url"]: "" for e in asset_entries.values()}
    docs["master/wp_failed.json"] = failed

    if prior is not None:
        for path, doc in docs.items():
            base = prior.get(path, {})
            if path == "master/wp_failed.json":
                # successes clear their entries; failures (re)write theirs
                doc = {**{k: v for k, v in base.items() if k not in asset_entries}, **doc}
            elif path.startswith("master/entries/"):
                doc = {"en-us": {**base.get("en-us", {}), **doc["en-us"]}}
            else:
                doc = {**base, **doc}
            docs[path] = doc
        files = {**prior["__files__"], **files}
    docs["__files__"] = files
    docs["__requests__"] = requests
    return docs


def prior_state(site: Site, origin_base: str, n_lost: int) -> dict:
    """A finished full export in which the first ``n_lost`` downloadable
    assets hit a transport failure: their files, entries and mappings are
    missing and ``wp_failed.json`` holds them, so a re-drive of the DLQ
    downloads them and clears their entries."""
    state = expected_export(site, origin_base)
    ok = [k for k in state["assets/wp_assets.json"]][:n_lost]
    for k in ok:
        entry = state["assets/wp_assets.json"].pop(k)
        state["master/wp_assets.json"].pop(k)
        state["master/wp_urls.json"].pop(entry["url"])
        state["__files__"].pop(f"assets/{k}/{entry['filename']}")
        state["master/wp_failed.json"][k] = LOST_ERROR
    return state


def resume_ids(site: Site, prior: dict) -> list[int]:
    """The ``--ids-file`` of a resume: 1% of post IDs spread evenly, plus
    every id in the prior DLQ."""
    all_ids = site.tables["posts"]["ID"]
    step = max(1, len(all_ids) // max(1, len(all_ids) // 100))
    picked = set(all_ids[::step]) | {int(k) for k in prior["master/wp_failed.json"]}
    return sorted(picked)


def write_state(state: dict, data_dir: str) -> None:
    """Materialise an expected-export state (documents + asset files) as a
    finished export's data dir — the prior state of a resume."""
    for rel, doc in state.items():
        if rel.startswith("__"):
            continue
        path = os.path.join(data_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps(dict(sorted(doc.items())), indent=4))
    for rel, body in state["__files__"].items():
        path = os.path.join(data_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(body)
