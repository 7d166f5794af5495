"""Static property registry: datatypes, link constraints, validators.

Semantics-parity data with the reference's static registries
(pywdcollections.py:536-604 ``managed_properties`` and the
``date/image/integer/item/sound_properties`` dispatch lists, plus the
per-writer format rules at pywdcollections.py:1139-1337). The ids are
public Wikidata property identifiers. Representation here is columnar
(rows for a broadcast DataFrame), not the reference's dict-of-dicts.

Known reference inconsistencies we mirror deliberately
(SURVEY.md §7.3):
 * image_properties lists P8592/P9721 and sound_properties lists
   P51/P989/P990 with no managed_properties entry — dispatch uses the
   lists, datatype lookup uses the registry.
 * integer claims validate as int but are written as strings
   (pywdcollections.py:1188).
"""

from __future__ import annotations

from dataclasses import dataclass, field

DATE_PROPS = [569, 570, 571, 574, 575, 576, 577, 580]
# extension whitelist comment at pywdcollections.py:537
IMAGE_PROPS = [18, 94, 154, 158, 242, 1442, 1801, 1943, 3311, 3451, 5775, 8592, 9721]
INTEGER_PROPS = [2971, 3407, 8366, 10689]
ITEM_PROPS = [17, 27, 31, 84, 131, 138, 140, 149, 186, 361, 488, 527, 611,
              708, 770, 793, 825, 910, 1366, 1435, 1885, 3501, 5607, 5816, 5817]
SOUND_PROPS = [51, 443, 989, 990]


@dataclass(frozen=True)
class PropSpec:
    pid: int
    datatype: str                       # entity|image|sound|string|date|integer|coordinates|monolingual_text
    constraints: tuple = ()             # allowed P31 (or one-hop P279) classes for entity targets
    multiple: bool = False              # reference: every entity prop is multiple=False
    # string-shape validators (writer rules, pywdcollections.py:1191-1337)
    min_len: int | None = None
    max_len: int | None = None
    exact_len: int | None = None


def _entity(pid, *constraints):
    return PropSpec(pid, "entity", tuple(constraints))


# One row per property the engine understands (pywdcollections.py:541-604).
PROP_SPECS: dict[int, PropSpec] = {s.pid: s for s in [
    _entity(17, 3624078, 6256),
    PropSpec(18, "image"),
    _entity(27, 3624078, 6256),
    _entity(31),
    _entity(84, 5, 43229),
    PropSpec(94, "image"),
    _entity(131, 515, 532, 1549591, 56061, 15284),
    _entity(138),
    _entity(140, 879146, 2325038, 4392985, 13414953, 71966963, 123129246),
    _entity(149),
    PropSpec(154, "image"),
    PropSpec(158, "image"),
    _entity(186),
    PropSpec(242, "image"),
    PropSpec(281, "string", min_len=2, max_len=20),   # zip code rule :1198
    _entity(361),
    PropSpec(373, "string"),
    PropSpec(380, "string"),
    PropSpec(443, "sound"),
    _entity(488, 5),
    _entity(527),
    *[PropSpec(p, "date") for p in (569, 570, 571, 574, 575, 576, 577, 580, 582)],
    _entity(611),
    PropSpec(625, "coordinates"),
    _entity(708, 1492823, 285181, 620225, 2072238, 2633744, 2288631, 1531518,
            1778235, 1431554, 384003, 3146899, 665487, 3732788, 105406193,
            105072138, 105071180, 105390172, 877113),
    _entity(770),
    _entity(793),
    _entity(825),
    PropSpec(856, "string", min_len=10),              # URL rule :1276
    _entity(910),
    PropSpec(969, "string"),
    PropSpec(1047, "string", max_len=8),              # :1290
    _entity(1366),
    _entity(1435),
    PropSpec(1442, "image"),
    PropSpec(1644, "string"),
    PropSpec(1801, "image"),
    PropSpec(1866, "string", exact_len=4),            # :1304
    _entity(1885, 2977),
    PropSpec(1943, "image"),
    PropSpec(2971, "integer"),
    PropSpec(3311, "image"),
    PropSpec(3407, "integer"),
    PropSpec(3451, "image"),
    _entity(3501, 628455),
    _entity(5607, 51041800, 20926517, 102496, 104145266, 17143723),
    PropSpec(5775, "image"),
    _entity(5816),
    _entity(5817),
    PropSpec(6375, "monolingual_text"),
    PropSpec(6788, "string", min_len=7),              # :1318
    PropSpec(8366, "integer"),
    PropSpec(8389, "string", max_len=5),              # :1332
    PropSpec(10689, "integer"),
]}


def datatype_of(pid: int) -> str:
    """Datatype for mapping/coercion; 'string' when unregistered
    (mirrors the reference falling through its dispatch lists)."""
    spec = PROP_SPECS.get(pid)
    return spec.datatype if spec else "string"


# Provenance: wiki site-id -> site QID. The full ~330-site map (public
# Wikidata data mirroring pywdcollections.py:605-936) lives in the
# sources_data data module; re-exported here for the dim-table build.
from pywdcollections_spark.sources_data import SOURCE_SITES  # noqa: E402


def source_rows() -> list[dict]:
    return [{"site": k, "site_qid": v} for k, v in SOURCE_SITES.items()]
