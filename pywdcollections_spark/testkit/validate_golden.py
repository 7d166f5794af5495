"""Golden validation/promotion expectations — independent reimplementation.

Applies the reference's writer semantics (pywdcollections.py:1061-1337)
to the expected_harvested staging rows in pure Python, with the same
per-writer check precedence the engine's validate stage mirrors. Used
by tests to cross-check the engine's valid/reject split; shares NO
code with pywdcollections_spark.operators.validate (set ops there,
row loop here).
"""

from __future__ import annotations

from pywdcollections_spark.testkit import generate as G

_ITEM = {17, 27, 31, 84, 131, 138, 140, 149, 186, 361, 488, 527, 611,
         708, 770, 793, 825, 910, 1366, 1435, 1885, 3501, 5607, 5816, 5817}
_INTEGER = {2971, 3407, 8366, 10689}
_IMAGE = {18, 94, 154, 158, 242, 1442, 1801, 1943, 3311, 3451, 5775, 8592, 9721}
_CONSTRAINTS = {17: {3624078, 6256}, 131: {515, 532, 1549591, 56061, 15284}}
_LEN_RULES = {281: (2, 20, None), 1047: (None, 8, None), 1866: (None, None, 4),
              6788: (7, None, None), 8389: (None, 5, None)}


def _family(pid: int) -> str | None:
    if pid in _ITEM:
        return "item"
    if pid in _INTEGER:
        return "integer"
    if pid in _IMAGE:
        return "image"
    if pid in (281, 373, 625, 856, 1047, 1866, 6788, 8389):
        return f"p{pid}"
    return None


class _Universe:
    """Constraint/exists lookups derived from the same deterministic
    formulas the dim tables use."""

    def __init__(self, n_pages: int, seed: int):
        self.n_pages = n_pages
        self.seed = seed
        d = G.dim_rows(n_pages, seed)
        self.items = {r["qid"] for r in d["items"]}
        self.p31 = {}
        for r in d["target_p31"]:
            self.p31.setdefault(r["qid"], set()).add(r["p31"])
        self.p279 = {}
        for r in d["class_p279"]:
            self.p279.setdefault(r["class_qid"], set()).add(r["super_qid"])
        self.categories = {r["title"] for r in d["commons_categories"]}
        self.cat_redirects = {r["from_title"]: r["to_title"]
                              for r in d["commons_redirects"]}
        self.files = {r["title"] for r in d["commons_files"]}
        self.file_redirects = {r["from_title"]: r["to_title"]
                               for r in d["file_redirects"]}
        self.existing = {r["qid"]: r for r in d["entities_seed"]}

    def check_constraints(self, qid: str, constraints: set) -> bool:
        if qid not in self.items:
            return False
        if not constraints:
            return True
        for p31 in self.p31.get(qid, ()):
            if p31 in constraints:
                return True
            if self.p279.get(p31, set()) & constraints:
                return True
        return False


def _coord_parse(coords: str):
    parts = coords.split("|")
    if len(parts) != 3:
        return None
    lat, lon = parts[0], parts[1]
    try:
        return float(lat.rstrip("N")), float(lon.rstrip("E"))
    except ValueError:
        pass
    try:
        p = lat.split("/")
        la = round(int(p[0]) + int(p[1]) / 60 + float(p[2]) / 3600, 5)
        if p[3] not in "NS" or len(p[3]) != 1:
            return None
        la = -la if p[3] == "S" else la
        p = lon.split("/")
        lo = round(int(p[0]) + int(p[1]) / 60 + float(p[2]) / 3600, 5)
        if p[3] not in "EW" or len(p[3]) != 1:
            return None
        lo = -lo if p[3] == "W" else lo
        return la, lo
    except (ValueError, IndexError):
        return None


def _url_norm(website: str):
    website = website.strip().strip('{}[]"').split(" ")[0]
    if website.lower().startswith(("url|", "official website|", "{{url|")):
        website = website.split("|")[1].strip()
    if website.startswith("www"):
        website = "http://" + website
    if not website.startswith(("http://", "https://")) or len(website) < 10:
        return None
    return website


def image_title(obj: str) -> str:
    """The image writers' title cleanup (pywdcollections.py:1158)."""
    return obj.replace("File:", "").replace("file:", "").strip().replace("::", ":")


def category_title(obj: str) -> str:
    """The P373 writer's title cleanup (pywdcollections.py:1212)."""
    return (obj.replace("Category:", "").replace("category:", "")
               .strip().replace("::", ":").replace("{", "")
               .replace("}", "").replace("[", "").replace("]", ""))


def expected_validation(n_pages: int, seed: int, head_templates: int = 200):
    """-> (valid_rows, reject_rows); valid rows carry obj_norm."""
    uni = _Universe(n_pages, seed)
    valid, rejects = [], []
    for i in range(n_pages):
        for row in G.expected_harvested_rows(seed, i, n_pages, head_templates):
            subj, pred, obj, source = row["subj"], row["pred"], row["obj_raw"], row["source"]
            pid = int(pred[1:])
            fam = _family(pid)
            ent = uni.existing.get(subj, {})
            already = ent.get(pred) is not None

            def reject(reason):
                rejects.append({"subj": subj, "pred": pred, "obj_raw": obj,
                                "source": source, "reason": reason})

            if fam is None:
                reject("writer_not_implemented")
                continue
            if fam == "item":
                if not uni.check_constraints(obj, _CONSTRAINTS.get(pid, set())):
                    reject("constraint_failed")
                    continue
                if already:
                    reject("already_present")
                    continue
                norm = obj
            elif fam == "image":
                t = obj.lower()
                ok = t.endswith(("jpg", "jpeg")) or (
                    pid in (94, 3311) and t.endswith(("svg", "png"))
                    and "template" not in t and "coa " not in t and "coa." not in t)
                if not ok:
                    reject("bad_extension")
                    continue
                if already:
                    reject("already_present")
                    continue
                dup = any(ent.get(f"P{p}") == obj for p in _IMAGE)
                if dup:
                    reject("image_duplicate")
                    continue
                norm = image_title(obj)
                if norm == "":
                    reject("empty_title")
                    continue
                # RECURSIVE file-redirect following (FilePage,
                # pywdcollections.py:977-981), then the exists check
                # (:1164) — claim lands with the resolved title
                seen = set()
                while norm in uni.file_redirects and norm not in seen:
                    seen.add(norm)
                    norm = uni.file_redirects[norm]
                if norm not in uni.files:
                    reject("file_missing")
                    continue
            else:
                if already:
                    reject("already_present")
                    continue
                if fam == "integer":
                    try:
                        int(obj)
                    except ValueError:
                        reject("bad_integer")
                        continue
                    norm = obj
                elif fam in ("p281", "p1047", "p1866", "p6788", "p8389"):
                    mn, mx, ex = _LEN_RULES[pid]
                    if ((ex is not None and len(obj) != ex)
                            or (mn is not None and len(obj) < mn)
                            or (mx is not None and len(obj) > mx)):
                        reject("bad_length")
                        continue
                    norm = obj
                elif fam == "p373":
                    norm = category_title(obj)
                    if norm == "":
                        reject("empty_title")
                        continue
                    # one-hop category redirect (pywikibot Category(),
                    # pywdcollections.py:966-967) before the exists check
                    norm = uni.cat_redirects.get(norm, norm)
                    if norm not in uni.categories:
                        reject("category_missing")
                        continue
                elif fam == "p625":
                    got = _coord_parse(obj)
                    if got is None:
                        reject("bad_coordinates")
                        continue
                    norm = f"{got[0]!r}|{got[1]!r}"
                elif fam == "p856":
                    norm = _url_norm(obj)
                    if norm is None:
                        reject("bad_url")
                        continue
                else:
                    reject("writer_not_implemented")
                    continue
            valid.append({"subj": subj, "pred": pred, "obj_raw": obj,
                          "obj_norm": norm, "source": source})
    return valid, rejects
