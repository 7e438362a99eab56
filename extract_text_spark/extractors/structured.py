"""E14/E15/E16/E6/E5: JSON / XML / YAML / CSV / spreadsheet kernels.

All semantics replicated from the reference:

* JSON (app/extractors.py:949-978): recursive walk emitting **string leaves
  only** as ``{dotted.path[idx]}: {value}`` lines joined "\\n"; numbers,
  booleans and nulls are dropped (asserted by the reference's own test at
  tests/test_extractors.py:87-90).
* XML (app/extractors.py:994-1026): ElementTree walk in document order;
  ``{path.tag}: {stripped_text}`` for non-blank element text, then
  ``{path.tag}@{attr}: {value}`` for non-blank attributes, then children.
* YAML (app/extractors.py:1028-1070): safe-load then the JSON-style
  string-leaf walk. PyYAML is a required worker dependency, as in the
  reference.
* CSV (app/extractors.py:494-505): ``pd.read_csv`` -> ``to_csv(index=False)``
  normalization round-trip (pandas is available on executors).
* Spreadsheet (app/extractors.py:475-492): per sheet ``[Sheet: {name}]``
  block + ``DataFrame.to_csv(index=False)`` dump, blocks joined "\\n\\n".
  Binary workbook parsing is out of scope; sheets arrive pre-parsed as JSON
  payloads ``{"sheets": [{"name", "columns", "rows"}]}``.
"""

from __future__ import annotations

import io
import json
import xml.etree.ElementTree as ET

import pandas as pd
import yaml


# -- JSON -------------------------------------------------------------------

def _json_strings(obj, path: str = "") -> list[str]:
    strings: list[str] = []
    if isinstance(obj, dict):
        for key, value in obj.items():
            new_path = f"{path}.{key}" if path else key
            strings.extend(_json_strings(value, new_path))
    elif isinstance(obj, list):
        for i, value in enumerate(obj):
            new_path = f"{path}[{i}]" if path else f"[{i}]"
            strings.extend(_json_strings(value, new_path))
    elif isinstance(obj, str):
        if obj.strip():
            strings.append(f"{path}: {obj}")
    return strings


def extract_json(payload: str) -> str:
    """E14 — string leaves only, dotted/indexed paths."""
    return "\n".join(_json_strings(json.loads(payload)))


# -- XML --------------------------------------------------------------------

def _xml_strings(elem, path: str = "") -> list[str]:
    strings: list[str] = []
    current_path = f"{path}.{elem.tag}" if path else elem.tag
    if elem.text and elem.text.strip():
        strings.append(f"{current_path}: {elem.text.strip()}")
    for attr_name, attr_value in elem.attrib.items():
        if attr_value.strip():
            strings.append(f"{current_path}@{attr_name}: {attr_value}")
    for child in elem:
        strings.extend(_xml_strings(child, current_path))
    return strings


def extract_xml(payload: str) -> str:
    """E15 — element text + attributes, document order."""
    return "\n".join(_xml_strings(ET.fromstring(payload)))


# -- YAML -------------------------------------------------------------------

def extract_yaml(payload: str) -> str:
    """E16 — safe-load then string-leaf walk with dotted/indexed paths."""
    return "\n".join(_json_strings(yaml.safe_load(payload)))


# -- CSV / spreadsheet ------------------------------------------------------

def extract_csv(payload: str) -> str:
    """E6 — pandas read->write round trip normalizes quoting/line endings."""
    df = pd.read_csv(io.StringIO(payload))
    return df.to_csv(index=False)


def extract_sheets(payload: str) -> str:
    """E5 — pre-parsed workbook JSON -> [Sheet: name] + csv blocks."""
    data = json.loads(payload)
    text_parts: list[str] = []
    for sheet in data["sheets"]:
        df = pd.DataFrame(sheet["rows"], columns=sheet["columns"])
        text_parts.append(f"[Sheet: {sheet['name']}]")
        text_parts.append(df.to_csv(index=False))
    return "\n\n".join(text_parts)
