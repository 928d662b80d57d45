"""Config + entity-map sources (S6/S7 in SURVEY.md §2.1).

S7: honas-gather's flat `keyword value` config format
(src/honas_gather_config.c:61-87, README.md:601-625) parsed into a
SketchSpec — drop-in config parity for reference users.

S6: the subnet-definitions JSON (entity -> list of prefixes,
etc/example_subnet_definitions.json via src/subnet_activity.c:360-438),
generated from the CRM CSV by `generate_subnet_definitions`.  The
longest-prefix join (J1) takes the prefix->entity dimension as any
(prefix, entity) DataFrame."""

from __future__ import annotations

from ..spec import SketchSpec

_KEYWORD_MAP = {
    # honas gather.conf keyword -> SketchSpec field
    "number_of_bits_per_filter": ("m_bits", int),
    "number_of_hashes": ("k", int),
    "number_of_filters": ("num_filters", int),
    "number_of_filters_per_user": ("filters_per_user", int),
    "flatten_threshold": ("flatten_threshold", int),
}


def parse_gather_config(text: str) -> SketchSpec:
    """Parse the reference's `keyword value` config file format.

    `period_length` (seconds) maps onto the tumbling-window string;
    unknown keywords are ignored like the reference's parser does for
    e.g. `bloomfilter_path` (process-level, not sketch-level)."""
    fields: dict = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split(None, 1)
        if len(parts) != 2:
            continue
        kw, val = parts
        if kw in _KEYWORD_MAP:
            name, conv = _KEYWORD_MAP[kw]
            fields[name] = conv(val)
        elif kw == "period_length":
            fields["window"] = f"{int(val)} seconds"
    return SketchSpec(**fields)


def load_gather_config(path: str) -> SketchSpec:
    with open(path) as f:
        return parse_gather_config(f.read())


def generate_subnet_definitions(
    csv_path: str,
    prefix_field: str = "Prefix",
    entity_field: str = "Volledige naam klant",
) -> "tuple[dict, list[str]]":
    """CRM CSV -> subnet-activity JSON mappings + the entity list
    (scripts/subnet_definitions_generator.py:30-76 — the generator
    crm_diff triggers on CRM changes).  Output format matches the
    reference byte-for-byte semantics: `{"subnet_activity": [{"entity":
    e, "prefixes": [{network_address: prefixlen}, ...]}]}` with CSV
    insertion order preserved, and the entity list is what the
    reference writes to entities_out.csv (one per line)."""
    import csv
    import ipaddress

    entities: dict = {}
    mappings: dict = {}
    with open(csv_path, encoding="utf-8", newline="") as f:
        for row in csv.DictReader(f):
            entities[row[entity_field]] = 0
            mappings[row[prefix_field]] = row[entity_field]
    doc: dict = {"subnet_activity": []}
    for e in entities:
        prefixes = []
        for p, pe in mappings.items():
            if pe == e:
                net = ipaddress.ip_network(p)
                prefixes.append({str(net.network_address): net.prefixlen})
        doc["subnet_activity"].append({"entity": e, "prefixes": prefixes})
    return doc, list(entities)
