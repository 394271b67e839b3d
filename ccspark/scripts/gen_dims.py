"""Extract the geo/filter dimension *data* from the reference repo into CSVs.

The ccTLD->country and ccTLD->region lookup tables and the
multinational-domain filter list ARE the semantics of the reference
pipeline (cc_corpus.py:21-135, url_filter.txt, utilities.py:148-219).
This script parses the dict/tuple literals out of the reference sources
with ``ast`` (no code is imported or copied) and freezes them as CSV
files under ccspark/data/, which the Spark pipeline reads as broadcast
dimension tables.

Run once:  python -m ccspark.scripts.gen_dims
The CSVs are committed; the reference checkout is not needed at runtime.
"""

from __future__ import annotations

import ast
import csv
import os

REF = "/root/reference/common_crawl_corpus"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data")


def _literal_assign(path: str, name: str):
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for tgt in node.targets:
                if isinstance(tgt, ast.Name) and tgt.id == name:
                    return ast.literal_eval(node.value)
        if isinstance(node, ast.AnnAssign):
            if isinstance(node.target, ast.Name) and node.target.id == name:
                return ast.literal_eval(node.value)
    raise KeyError(f"{name} not found in {path}")


def main() -> None:
    os.makedirs(OUT, exist_ok=True)

    cc = os.path.join(REF, "cc_corpus.py")
    names = _literal_assign(cc, "COUNTRY_CODE_NAME")
    regions = _literal_assign(cc, "COUNTRY_CODE_REGION")
    with open(os.path.join(OUT, "cctld.csv"), "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(["tld", "country", "region"])
        for tld, country in names.items():
            w.writerow([tld, country, regions.get(tld, "unknown")])

    # Multinational-domain exclusion list: union of the static tuple
    # (utilities.py:148-219) and the url_filter.txt side file keys.
    mnc = set(_literal_assign(os.path.join(REF, "utilities.py"), "URL_FILTER"))
    counts = {}
    with open(os.path.join(REF, "url_filter.txt"), encoding="utf-8") as fh:
        for row in fh:
            parts = row.split()
            if len(parts) == 3:
                counts[parts[0]] = (int(parts[1]), int(parts[2]))
                mnc.add(parts[0])
    with open(os.path.join(OUT, "url_filter.csv"), "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(["domain", "num_of_countries", "num_of_pages"])
        for dom in sorted(mnc):
            nc, np_ = counts.get(dom, (0, 0))
            w.writerow([dom, nc, np_])

    print("wrote cctld.csv(%d) url_filter.csv(%d)" % (len(names), len(mnc)))


if __name__ == "__main__":
    main()
