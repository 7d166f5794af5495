"""Deterministic fixture generator — inputs AND golden outputs from one seed.

Emits the synthetic web-pages table (FIXTURES.md §1: url, warc_ts,
html, text, lang), the broadcast dimension tables (§2), and the golden
expected tables (§3). Generator and engine share NO extraction code:
the generator *renders* wikitext from per-page specs and computes
expected triples directly from the spec fields by applying the
reference's rules (pywdcollections.py:332-405 harvest semantics,
:1061-1337 validation semantics) — it never parses what it rendered.

All randomness derives from ``random.Random(f"{seed}:{page_id}")`` so
any page is reproducible in isolation — which lets page generation run
distributed (mapInPandas over spark.range) for the bench-scale table.
"""

from __future__ import annotations

import hashlib
import random
from datetime import datetime, timedelta

# ---------------------------------------------------------------- universe

LANG_SITES = [("en", "enwiki"), ("fr", "frwiki"), ("de", "dewiki")]
LANG_WEIGHTS = [0.7, 0.2, 0.1]

PLACE_QID_BASE = 500_000
COUNTRY_QID_BASE = 600_000
ENTITY_QID_BASE = 1_000

# class ids used for P31 of link targets (P131 constraints are
# [515, 532, 1549591, 56061, 15284]; P17 constraints [3624078, 6256])
CLS_CITY = 515          # passes P131 directly
CLS_TOWN = 3957         # passes P131 one-hop via P279 3957->515
CLS_BUILDING = 41176    # fails P131
CLS_COUNTRY = 6256      # passes P17 directly
CLS_FAKELAND = 12345678  # fails P17
CLASS_P279 = [
    {"class_qid": CLS_TOWN, "super_qid": CLS_CITY},
    {"class_qid": CLS_BUILDING, "super_qid": 811979},
    {"class_qid": CLS_FAKELAND, "super_qid": 98765432},
]

EPOCH = datetime(2026, 1, 1)


def n_places(n_pages: int) -> int:
    return max(20, n_pages // 50)


def n_countries() -> int:
    return 5


def place_qid(j: int) -> str:
    return f"Q{PLACE_QID_BASE + j}"


def place_p31(j: int) -> int:
    if j % 5 == 0:
        return CLS_BUILDING
    if j % 5 == 1:
        return CLS_TOWN
    return CLS_CITY


def place_passes_p131(j: int) -> bool:
    return place_p31(j) in (CLS_CITY, CLS_TOWN)


def country_qid(c: int) -> str:
    return f"Q{COUNTRY_QID_BASE + c}"


def country_p31(c: int) -> int:
    return CLS_FAKELAND if c == 4 else CLS_COUNTRY


def entity_qid(i: int) -> str:
    return f"Q{ENTITY_QID_BASE + i}"


def page_title(i: int, lang: str) -> str:
    base = {"en": "Cemetery", "fr": "Cimetière", "de": "Friedhof"}[lang]
    return f"{base} {i}"


def page_lang(seed: int, i: int) -> str:
    if i == 0:
        return "en"  # head-statement page is pinned to enwiki
    r = random.Random(f"{seed}:lang:{i}").random()
    return "en" if r < 0.7 else ("fr" if r < 0.9 else "de")


def forced_dup_image(seed: int, i: int) -> bool:
    """Pages whose candidate P18 title deterministically collides with
    an existing P154 claim (cross-property image dedup, J7)."""
    return i % 37 == 0 and i > 0 and page_lang(seed, i) == "en"


# ---------------------------------------------------------------- page specs

def _link_case(rng: random.Random, n_pl: int, head_bias: float = 0.2):
    """Pick a location-param rendering + its expected link resolution.

    Returns (rendered_value, expected_qid_or_None). Mirrors
    find_items_in_value semantics (pywdcollections.py:203-224): first
    constraint-passing mention wins; else exactly-one-resolved wins
    (even constraint-failing — reference quirk); else None.
    """
    j = 0 if rng.random() < head_bias else rng.randrange(n_pl)  # head-entity skew
    title = f"Place {j}"
    case = rng.random()
    if case < 0.40:  # plain existing link
        val = f"[[{title}]]"
        exp = place_qid(j)
    elif case < 0.55:  # redirect form
        val = f"[[Old {title}]]"
        exp = place_qid(j)
    elif case < 0.65:  # nonexistent page -> no resolution
        val = f"[[Ghost {j}]]"
        exp = None
    elif case < 0.75:  # namespace link skipped + real link
        val = f"[[File:pic{j}.jpg]] and [[{title}]]"
        exp = place_qid(j)
    elif case < 0.85:  # two links: first passing wins / ambiguity
        k = rng.randrange(n_pl)
        val = f"[[{title}]], [[Place {k}]]"
        if place_passes_p131(j):
            exp = place_qid(j)
        elif place_passes_p131(k):
            exp = place_qid(k)
        else:
            exp = None  # two resolved failing mentions -> len!=1 -> None
    elif case < 0.93:  # multiline value (DOTALL wikilink)
        val = f"[[{title[:5]}\n{title[5:]}]]"
        exp = None  # the split title does not exist
        if rng.random() < 0.5:
            val += f" [[{title}]]"
            exp = place_qid(j)
    else:
        jj = (j // 5) * 5  # a building (fails P131)
        if rng.random() < 0.5:
            # failing-constraints SINGLE mention -> harvested anyway
            # (quirk: len==1 wins regardless of constraints, :224)
            val = f"[[Place {jj}]]"
            exp = place_qid(jj)
        else:
            # the SAME failing mention twice: the reference's one=True
            # path appends non-passing resolutions without dedup
            # (:222-223), so len==2 -> None even for one distinct target
            val = f"[[Place {jj}]] near [[Place {jj}]]"
            exp = None
    return val, exp


def _coord_case(rng: random.Random):
    """Named-625 value + its normalized pipe string
    (pywdcollections.py:374-379)."""
    lat = round(rng.uniform(-89, 89), 4)
    lon = round(rng.uniform(-179, 179), 4)
    if rng.random() < 0.5:
        val = f"{lat}/{lon}"
        exp = f"{lat}|{lon}|0"
    else:
        d, m, s = rng.randrange(0, 89), rng.randrange(0, 60), rng.randrange(0, 60)
        d2, m2, s2 = rng.randrange(0, 179), rng.randrange(0, 60), rng.randrange(0, 60)
        val = f"{d}°{m}′{s}″N {d2}°{m2}′{s2}″E"
        exp = f"{d}/{m}/{s}/N|{d2}/{m2}/{s2}/E|0"
    return val, exp


def page_spec(seed: int, i: int, n_pages: int, head_templates: int = 200) -> dict:
    """Build the full spec for page i: what to render and what the
    reference harvester would stage for it."""
    rng = random.Random(f"{seed}:{i}")
    lang = page_lang(seed, i)
    site = f"{lang}wiki"
    title = page_title(i, lang)
    qid = entity_qid(i)
    n_pl = n_places(n_pages)

    templates: list[dict] = []  # {'render': str, 'saves': [(pred, obj_raw)]}

    if i == 0:
        # head-statement subject: 10^4x-median template count at bench
        # scale (exercises the salted canonicalization groupBy)
        for t in range(head_templates):
            templates.append({
                "render": "{{Commonscat|Head category %d|Display}}" % t,
                "saves": [("P373", f"Head category {t}")],
            })
    else:
        if site in ("enwiki", "dewiki") and rng.random() < 0.5:  # Commonscat positional
            r = rng.random()
            if r < 0.75:
                cat = f"Category of {title}"
                templates.append({
                    "render": "{{Commonscat|%s|%s}}" % (cat, title),
                    # first len>2 param wins (pywdcollections.py:386-393)
                    "saves": [("P373", cat)],
                })
            elif r < 0.9:
                # first param too short -> SECOND param harvested
                templates.append({
                    "render": "{{Commonscat|ab|%s}}" % title,
                    "saves": [("P373", title)],
                })
            else:
                # name-case variant + redirect alias still match
                alias = "Commons category" if rng.random() < 0.5 else "commonsCAT"
                cat = f"Category of {title}"
                templates.append({
                    "render": "{{%s|%s}}" % (alias, cat),
                    "saves": [("P373", cat)],
                })

        if rng.random() < 0.7 and site == "enwiki":  # Infobox cemetery
            params: list[str] = []
            saves: list[tuple] = []
            pair_625 = False
            if forced_dup_image(seed, i):
                # deterministic J7 collision with entities_seed P154
                img = f"{title} photo.jpg"
                params.append(f"image={img}")
                saves.append(("P18", img))
            elif rng.random() < 0.6:
                ext = rng.choice(["jpg", "jpeg", "png", "svg", "tif"])
                img = f"{title} photo.{ext}"
                if rng.random() < 0.1:
                    img = f"File:{img}"
                params.append(f"image={img}")
                saves.append(("P18", img))
            if rng.random() < 0.6:
                val, exp = _link_case(rng, n_pl)
                params.append(f"location={val}")
                if exp:
                    saves.append(("P131", exp))
            if rng.random() < 0.3:
                c = rng.randrange(n_countries())
                params.append(f"country=[[Country {c}]]")
                saves.append(("P17", country_qid(c)))
            coord_mode = rng.random()
            if coord_mode < 0.3:
                val, exp = _coord_case(rng)
                params.append(f"coordinates={val}")
                saves.append(("P625", exp))
            elif coord_mode < 0.5:
                lat = round(rng.uniform(-89, 89), 4)
                lon = round(rng.uniform(-179, 179), 4)
                if rng.random() < 0.3:
                    # duplicate lat param: the reference re-fires the
                    # pairing save at every 625a/625b param once both are
                    # set (pywdcollections.py:380-382), so the last-wins
                    # upsert keeps the last-seen lat/lon in RENDERED
                    # order — the save is computed after the shuffle below
                    params.append(f"lat={round(rng.uniform(-89, 89), 4)}")
                params.append(f"lat={lat}")
                params.append(f"lon={lon}")
                pair_625 = True
            elif coord_mode < 0.55:
                lat = round(rng.uniform(-89, 89), 4)
                params.append(f"lat={lat}")  # unpaired -> nothing staged
            if rng.random() < 0.4:
                w = rng.random()
                if w < 0.4:
                    url = f"https://example.org/cem/{i}"
                elif w < 0.6:
                    url = f"www.example{i}.org/home"
                elif w < 0.8:
                    # nested template value: pipes survive because they sit
                    # inside {{...}} (top-level param split skips them)
                    url = "{{URL|https://example.net/%d}}" % i
                else:
                    url = f"bad{i}"  # harvested (len>2) but fails URL validation
                params.append(f"website={url}")
                saves.append(("P856", url))
            if rng.random() < 0.4:
                yr = 1700 + rng.randrange(300)
                params.append(f"established={yr}")
                saves.append(("P571", str(yr)))  # date: staged, never promoted
            if rng.random() < 0.3:
                zipc = "".join(rng.choice("0123456789") for _ in range(5))
                params.append(f"postal_code={zipc}")
                saves.append(("P281", zipc))
            if rng.random() < 0.3:
                g = rng.randrange(100, 99999)
                if rng.random() < 0.15:
                    params.append(f"graves=about {g}")  # int-parse fails at validation
                    saves.append(("P2971", f"about {g}"))
                else:
                    # int() accepts digit-group underscores ('12_345') —
                    # the reference gate is literally int(value)
                    # (pywdcollections.py:1182-1185), so these pass
                    gs = f"{g:_}" if g >= 1000 and rng.random() < 0.25 else str(g)
                    params.append(f"graves={gs}")
                    saves.append(("P2971", gs))
            if rng.random() < 0.2:
                d = "".join(rng.choice("abcd") for _ in range(rng.choice([3, 4, 5])))
                params.append(f"diocese_id={d}")
                saves.append(("P1866", d))
            # negative cases: '=' in value (skipped :359-361), short value
            # (:364), unknown param, {{PAGENAME}} no-op (:356)
            if rng.random() < 0.3:
                params.append("motto=a=b")
            if rng.random() < 0.3:
                params.append("image=ab")  # len<=2 -> skipped; does NOT override
                # NB: appended after a real image= param it would override
                # in MediaWiki, but the reference processes params
                # independently and skips this one, so order is moot.
            if rng.random() < 0.2:
                params.append("note={{PAGENAME}} memorial")
            if rng.random() < 0.2:
                params.append("style={{small|ornate}} fence")  # nested template distractor
            rng.shuffle(params)
            if pair_625:
                # 625a/625b pair into one P625 (pywdcollections.py:370-382)
                # from the rendered order: last lat/lon occurrences win
                last_lat = [p[4:] for p in params if p.startswith("lat=")][-1]
                last_lon = [p[4:] for p in params if p.startswith("lon=")][-1]
                saves.append(("P625", f"{last_lat}|{last_lon}|0"))
            templates.append({
                "render": "{{Infobox cemetery|" + "|".join(params) + "}}",
                "saves": saves,
            })

        if site == "frwiki" and rng.random() < 0.6:
            cat = f"Catégorie de {title}"
            templates.append({
                "render": "{{Autres projets|commons=%s}}" % cat,
                "saves": [("P373", cat)],
            })

        if site == "enwiki" and rng.random() < 0.2:  # positional Location
            if rng.random() < 0.6:
                d, m, s = rng.randrange(89), rng.randrange(60), rng.randrange(60)
                d2, m2, s2 = rng.randrange(179), rng.randrange(60), rng.randrange(60)
                fields = [str(d), str(m), str(s), "N", str(d2), str(m2), str(s2), "E"]
            else:
                lat = round(rng.uniform(-89, 89), 3)
                lon = round(rng.uniform(-179, 179), 3)
                fields = [str(lat), str(lon)]
            render = "{{Location|%s}}" % "|".join(fields)
            # the save fires only at a len>2 param (pywdcollections.py:386);
            # when it fires the value is the literal '%s|%s|0' —
            # missing-interpolation defect mirrored (:390)
            saves = [("P625", "%s|%s|0")] if any(len(f) > 2 for f in fields) else []
            templates.append({"render": render, "saves": saves})

    rng.shuffle(templates)
    return {
        "page_id": i,
        "qid": qid,
        "lang": lang,
        "site": site,
        "title": title,
        "url": f"https://{lang}.fixture.wiki/wiki/" + title.replace(" ", "_"),
        "warc_ts": EPOCH + timedelta(seconds=(i * 137) % 31_000_000),
        "templates": templates,
    }


# ---------------------------------------------------------------- rendering

_PROSE = (
    "The old grounds lie beyond the ridge } and a stray {{ brace field. "
    "Visitors described the gates, [[iron fence]] rows and long paths.\n"
)

# sentence pool for body prose — pages carry KBs of text like real web
# pages, so extract/parse work per page is realistic (stray braces and
# non-template links included as tokenizer distractors)
_SENTENCES = [
    "The registry from %d lists plots along the eastern wall and a chapel.",
    "Restoration in %d replaced the [[stone archway]] over the north gate.",
    "A survey of %d graves mentioned weathered inscriptions and moss.",
    "Records note %d visitors during the commemoration season that year.",
    "The avenue of lindens was planted around %d by the parish council.",
    "An annex added in %d holds the columbarium and a small archive.",
    "About %d meters of wrought iron fence follow the southern boundary.",
    "Maps drawn in %d show the creek diverted around the lower field.",
]


def _prose(rng: random.Random, n_sentences: int) -> str:
    parts = []
    for _ in range(n_sentences):
        parts.append(rng.choice(_SENTENCES) % rng.randrange(1650, 2026))
    parts.append(_PROSE)
    return " ".join(parts)


def render_wikitext(spec: dict, prose_sentences: int = 24) -> str:
    rng = random.Random(f"render:{spec['page_id']}")
    chunks = []
    for t in spec["templates"]:
        if rng.random() < 0.5:
            chunks.append(_prose(rng, rng.randrange(2, max(3, prose_sentences // 3))))
        chunks.append(t["render"])
        chunks.append("\n")
    chunks.append(_prose(rng, rng.randrange(prose_sentences // 2, prose_sentences * 2)))
    return "".join(chunks)


def render_html(title: str, text: str) -> bytes:
    """Wrap wikitext in the fixture html shape. The escape chain here is
    the generator-side spec; the engine's extract_text implements the
    inverse independently."""
    def esc(s: str) -> str:
        return (s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
                 .replace('"', "&quot;").replace("'", "&#39;"))
    return ("<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>"
            + esc(title) + "</title></head><body><main><pre class=\"wikitext\">"
            + esc(text) + "</pre></main><footer>fixture</footer></body></html>"
            ).encode("utf-8")


def page_row(seed: int, i: int, n_pages: int, head_templates: int = 200) -> dict:
    spec = page_spec(seed, i, n_pages, head_templates)
    text = render_wikitext(spec)
    return {
        "url": spec["url"],
        "warc_ts": spec["warc_ts"],
        "html": render_html(spec["title"], text),
        "text": text,
        "lang": spec["lang"],
    }


# ---------------------------------------------------------------- goldens

def expected_harvested_rows(seed: int, i: int, n_pages: int,
                            head_templates: int = 200) -> list[dict]:
    """Staged triples for page i after last-wins upserts keyed
    (subj, source, pred) (pywdcollections.py:407-411: repeated saves
    within one page overwrite)."""
    spec = page_spec(seed, i, n_pages, head_templates)
    staged: dict[str, str] = {}
    for t in spec["templates"]:
        for pred, obj in t["saves"]:
            staged[pred] = obj
    return [{
        "subj": spec["qid"],
        "pred": pred,
        "obj_raw": obj,
        "source": spec["site"],
        "url": spec["url"],
    } for pred, obj in staged.items()]


def cat_redirect_case(seed: int, i: int) -> tuple[str, str, bool] | None:
    """Deterministic per-page Commons category-redirect case: returns
    (from_title, to_title, target_exists) or None.

    Models pywikibot's isCategoryRedirect()/getCategoryRedirectTarget
    (one hop, pywdcollections.py:966-967): ~8%% of pages' harvested
    'Category of {title}' is a redirect to an existing canonical
    category (claim lands with the TARGET title), ~3%% redirect to a
    target that does not exist (claim rejected by the exists check,
    :1219-1223)."""
    lang = page_lang(seed, i)
    t = page_title(i, lang)
    rng = random.Random(f"{seed}:catredir:{i}")
    r = rng.random()
    if r < 0.08:
        return (f"Category of {t}", f"Canonical category of {t}", True)
    if r < 0.11:
        return (f"Category of {t}", f"Deleted category of {t}", False)
    return None


def file_case(seed: int, i: int) -> str:
    """Deterministic per-page Commons FILE-page case for the page's
    ``{title} photo.*`` image candidates:
     * 'missing'   (~8%%): none of the page's photo file pages exist —
       the write_prop_image exists-check rejects (:1164,1172);
     * 'redirect'  (~8%%): the .jpg name is a file redirect to an
       existing '(archived)' name — FilePage follows it (:977-981) and
       the claim lands with the TARGET title;
     * 'redirect2' (~3%%): a 2-hop chain .jpg -> (archived) -> (final),
       proving the reference's RECURSIVE following;
     * 'plain' otherwise: all photo names exist as themselves."""
    rng = random.Random(f"{seed}:fileexist:{i}")
    r = rng.random()
    if r < 0.08:
        return "missing"
    if r < 0.16:
        return "redirect"
    if r < 0.19:
        return "redirect2"
    return "plain"


def file_dim_rows(seed: int, i: int) -> tuple[list[str], list[dict]]:
    """(existing file titles, file redirects) for page i's image pool."""
    lang = page_lang(seed, i)
    base = f"{page_title(i, lang)} photo"
    case = file_case(seed, i)
    if case == "missing":
        return [], []
    files = [f"{base}.{e}" for e in ("jpg", "jpeg", "png", "svg", "tif")]
    redirs: list[dict] = []
    if case in ("redirect", "redirect2"):
        # both extensions that pass the image writer's ext gate redirect
        for e in ("jpg", "jpeg"):
            arch = f"{base} (archived).{e}"
            redirs.append({"from_title": f"{base}.{e}", "to_title": arch})
            files.append(arch)
            if case == "redirect2":
                fin = f"{base} (final).{e}"
                redirs.append({"from_title": arch, "to_title": fin})
                files.append(fin)
    return files, redirs


def expected_text_rows(seed: int, i: int, n_pages: int,
                       head_templates: int = 200) -> dict:
    spec = page_spec(seed, i, n_pages, head_templates)
    text = render_wikitext(spec)
    return {"url": spec["url"],
            "text_sha256": hashlib.sha256(text.encode("utf-8")).hexdigest()}


# ---------------------------------------------------------------- dim tables

def small_dim_rows(n_pages: int, seed: int) -> dict[str, list[dict]]:
    """The dims whose size scales with the PLACE pool, not the page
    count — buildable driver-side at any fixture scale."""
    n_pl = n_places(n_pages)
    sitelinks, redirects, p31, items = [], [], [], []
    for j in range(n_pl):
        for _, site in LANG_SITES:
            sitelinks.append({"site": site, "title": f"Place {j}", "qid": place_qid(j)})
            redirects.append({"site": site, "from_title": f"Old Place {j}",
                              "to_title": f"Place {j}"})
        p31.append({"qid": place_qid(j), "p31": place_p31(j)})
        items.append({"qid": place_qid(j)})
    for c in range(n_countries()):
        for _, site in LANG_SITES:
            sitelinks.append({"site": site, "title": f"Country {c}", "qid": country_qid(c)})
        p31.append({"qid": country_qid(c), "p31": country_p31(c)})
        items.append({"qid": country_qid(c)})

    template_redirects = []
    for _, site in LANG_SITES:
        template_redirects.append({"site": site, "alias_lc": "commons category",
                                   "canonical_lc": "commonscat"})

    from pywdcollections_spark.registry import source_rows
    return {
        "sitelinks": sitelinks,
        "redirects": redirects,
        "template_redirects": template_redirects,
        "target_p31": p31,
        "class_p279": list(CLASS_P279),
        "items": items,
        "sources": source_rows(),
    }


def page_dim_rows(seed: int, i: int) -> dict[str, list[dict]]:
    """Page i's rows of the page-derived dim tables (the O(n_pages)
    part of ``dim_rows``), keyed by dim name. Each page derives from
    (seed, i) alone, so the fixture builders can generate these rows
    distributed as well as in one driver loop."""
    lang = page_lang(seed, i)
    title = page_title(i, lang)
    qid = entity_qid(i)

    rng = random.Random(f"{seed}:seed_entity:{i}")
    entity = {"qid": qid, "last_modified": EPOCH,
              "P17": None, "P18": None, "P131": None, "P154": None,
              "P281": None, "P373": None, "P571": None, "P625": None,
              "P856": None, "P1866": None, "P2971": None}
    if rng.random() < 0.3:
        entity["P373"] = f"Existing category {i}"
    if rng.random() < 0.2:
        entity["P18"] = f"Existing {i}.jpg"
    if forced_dup_image(seed, i):
        # cross-property image dedup case (pywdcollections.py:1151-1157):
        # the page's own candidate image title already sits under P154
        entity["P154"] = f"{title} photo.jpg"

    # the redirect page itself exists on Commons (it is a page carrying
    # the redirect template) — resolution happens BEFORE the exists
    # check, so source titles stay listed
    categories = [{"title": name}
                  for name in (f"Category of {title}", f"Catégorie de {title}", title)]
    cat_redirects = []
    case = cat_redirect_case(seed, i)
    if case is not None:
        frm, to, target_exists = case
        cat_redirects.append({"from_title": frm, "to_title": to})
        if target_exists:
            categories.append({"title": to})
    files, file_redirects = file_dim_rows(seed, i)
    return {
        # the harvested pages themselves are sitelinked entities (J1 join)
        "sitelinks": [{"site": f"{lang}wiki", "title": title, "qid": qid}],
        "items": [{"qid": qid}],
        "entities_seed": [entity],
        "commons_categories": categories,
        "commons_redirects": cat_redirects,
        "commons_files": [{"title": f} for f in files],
        "file_redirects": file_redirects,
    }


def head_category_rows() -> list[dict]:
    """Commons categories every fixture lists beyond the pages' own."""
    return [{"title": f"Head category {t}"} for t in range(2000)]


def dim_rows(n_pages: int, seed: int) -> dict[str, list[dict]]:
    """All broadcast dimension tables (FIXTURES.md §2): the place-pool
    dims, then every page's ``page_dim_rows`` in page order."""
    out = small_dim_rows(n_pages, seed)
    for name in page_dim_rows(seed, 0):     # the page-derived dim names
        out.setdefault(name, [])
    for i in range(n_pages):
        for name, rows in page_dim_rows(seed, i).items():
            out[name].extend(rows)
    out["commons_categories"].extend(head_category_rows())
    return out
