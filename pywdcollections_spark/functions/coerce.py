"""Datatype coercion + validation primitives (pure Python, vectorizable).

Each function mirrors one reference coercion/validator exactly —
including its quirks — so the pipeline's emitted values are
fixture-identical. Cites are ``pywdcollections.py:<line>``.
"""

from __future__ import annotations

import re

WIKILINK_RE = re.compile(r"\[\[(.*?)\]\]", re.DOTALL)  # :204 (non-greedy, DOTALL)


def find_wikilink_mentions(val: str) -> list[str]:
    """Wikilink targets in a value, stripped, namespace links skipped
    (':' in target — images/categories, :206-209). Order preserved;
    duplicates kept — the reference's one=True path appends
    non-passing resolutions WITHOUT dedup (:222-223; the
    `not in result` dedup at :220-221 is unreachable for
    multiple=False props), so a repeated failing mention makes the
    value ambiguous (len 2 -> None) and we must reproduce that."""
    out = []
    for match in WIKILINK_RE.findall(val or ""):
        value = match.strip()
        if ":" in value:
            continue
        out.append(value)
    return out


def normalize_named_coordinate(val: str) -> str:
    """Named 625 param normalization (:374-379): decimal 'lat/lon' or
    DMS with unicode markers -> 'lat|lon|0' pipe string."""
    val = val.strip().replace("\t", "").replace(" ", "|")
    if val.count("/") == 1:
        return val.replace("/", "|") + "|0"
    return (val.replace("°", "/").replace("′", "/").replace("″", "/")
               .replace("'", "/").replace('"', "/")
               .replace("N/", "N|").replace("S/", "S|") + "|0")


def positional_coordinates(params: list[str]) -> tuple[str | None, str | None]:
    """find_coordinates_in_template (:192-201): 8-field DMS template
    -> 'd/m/s/H' strings; 2-field decimal -> the two raw fields."""
    if len(params) >= 8:
        return ("%s/%s/%s/%s" % tuple(params[0:4]), "%s/%s/%s/%s" % tuple(params[4:8]))
    if len(params) > 1:
        return (format(params[0]), format(params[1]))
    return (None, None)


def parse_coordinate_value(coords: str) -> tuple[float, float] | None:
    """write_prop_625 parse (:1232-1259). Exactly 3 pipe fields;
    decimal fast path float(lat.rstrip('N')) / float(lon.rstrip('E'));
    else DMS 'd/m/s/H' with Python round(x, 5) (banker's rounding —
    kept in Python for bit parity, not Spark's ROUND)."""
    parts = coords.split("|")
    if len(parts) != 3:
        return None
    latitude, longitude = parts[0], parts[1]
    try:
        return (float(latitude.rstrip("N")), float(longitude.rstrip("E")))
    except ValueError:
        pass
    try:
        p = latitude.split("/")
        lat = round(int(p[0]) + int(p[1]) / 60 + float(p[2]) / 3600, 5)
        if p[3] not in ("N", "S"):
            return None
        if p[3] == "S":
            lat *= -1
        p = longitude.split("/")
        lon = round(int(p[0]) + int(p[1]) / 60 + float(p[2]) / 3600, 5)
        if p[3] not in ("E", "W"):
            return None
        if p[3] == "W":
            lon *= -1
        return (lat, lon)
    except (ValueError, IndexError):
        return None


def normalize_url(website: str) -> str | None:
    """write_prop_856 normalization (:1271-1277)."""
    website = website.strip().strip('{}[]"').split(" ")[0]
    if website.lower().startswith(("url|", "official website|", "{{url|")):
        website = website.split("|")[1].strip()
    if website.startswith("www"):
        website = "http://" + website
    if not website.startswith(("http://", "https://")) or len(website) < 10:
        return None
    return website


def clean_category_title(title: str) -> str:
    """Commons-category cleanup (:1212)."""
    return (title.replace("Category:", "").replace("category:", "").strip()
                 .replace("::", ":").replace("{", "").replace("}", "")
                 .replace("[", "").replace("]", ""))


def image_extension_ok(pid: int, title: str) -> bool:
    """Image-extension predicate (:1141-1144): jpg/jpeg everywhere;
    P94/P3311 also svg/png unless the title mentions template/coa."""
    t = title.lower()
    if t.endswith(("jpg", "jpeg")):
        return True
    return (pid in (94, 3311) and t.endswith(("svg", "png"))
            and "template" not in t and "coa " not in t and "coa." not in t)


def integer_ok(value: str) -> bool:
    """Integer validation (:1182-1185); the accepted value is still
    written as a *string* (:1188) — mirrored in the validate stage."""
    try:
        int(value)
        return True
    except (TypeError, ValueError):
        return False


def string_length_ok(value: str, min_len=None, max_len=None, exact_len=None) -> bool:
    """External-id shape rules (:1198,1290,1304,1318,1332)."""
    n = len(value)
    if exact_len is not None and n != exact_len:
        return False
    if min_len is not None and n < min_len:
        return False
    if max_len is not None and n > max_len:
        return False
    return True
