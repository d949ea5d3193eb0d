"""Output checks of the portal workload against the generator's manifest.

Every check compares what the ETL wrote (files, the harness's dump of
stage counts and database tables) with values the generator derived by
construction; none of them re-runs the program.
"""
import glob
import json
import os
import struct


def _csv_rows(d):
    n = 0
    for f in glob.glob(os.path.join(d, "part-*")):
        with open(f, encoding="utf-8") as fh:
            n += max(0, sum(1 for _ in fh) - 1)  # header per part file
    return n


def portal(work, manifest):
    """Reasons the outputs in `work` differ from the manifest (empty when
    they match); an output that is missing or unreadable is one of them."""
    problems = []
    try:
        _portal(work, manifest, problems)
    except (OSError, ValueError, KeyError, IndexError) as e:
        problems.append(f"unreadable output: {e}")
    return problems


def _portal(work, manifest, problems):

    def expect(what, got, want):
        if got == want:
            return
        if isinstance(got, list) and isinstance(want, list):
            diff = [(i, g, w) for i, (g, w) in enumerate(zip(got, want)) if g != w]
            i, g, w = diff[0] if diff else (min(len(got), len(want)), None, None)
            problems.append(f"{what}: {len(diff)} of {len(want)} differ (lengths {len(got)}/"
                            f"{len(want)}), first at {i}: got {g!r}, expected {w!r}")
        else:
            problems.append(f"{what}: got {got}, expected {want}")

    with open(os.path.join(work, "portal_check.json")) as f:
        dump = json.load(f)
    counts = manifest["counts"]
    for k in ("initial", "eurosea_raw", "eurosea", "combined", "users", "duplicates"):
        expect(f"{k} rows", dump["counts"][k], counts[k])
    out = os.path.join(work, "portal_out")
    expect("missing_spatial rows", _csv_rows(os.path.join(out, "reports", "missing_spatial")),
           counts["missing_spatial"])
    expect("duplicates report rows", _csv_rows(os.path.join(out, "reports", "duplicates")),
           counts["duplicates"])

    # ids contiguous from 1; identifiers unique and as constructed
    ids = [int(i) for i, _ in dump["ids"]]
    expect("ids", ids, list(range(1, counts["combined"] + 1)))
    idents = [s for _, s in dump["ids"]]
    expect("distinct identifiers", len(set(idents)), len(idents))
    expect("identifiers", idents, manifest["identifiers"])

    # users: pks contiguous from 2001, users.json carries all of them
    pks = sorted(int(p) for p, _ in dump["users"])
    expect("user pks", pks, list(range(2001, 2001 + counts["users"])))
    with open(os.path.join(out, "output", "users.json"), encoding="utf-8") as f:
        users = json.load(f)
    expect("users.json pks", sorted(u["pk"] for u in users), pks)
    with open(os.path.join(out, "output", "eovs.json"), encoding="utf-8") as f:
        expect("eovs.json pks", [e["pk"] for e in json.load(f)], list(range(1, 13)))

    # one bundle per identifier, feature counts as generated
    bundles = sorted(d for d in os.listdir(os.path.join(out, "output"))
                     if os.path.isdir(os.path.join(out, "output", d)))
    expect("bundles", bundles, sorted(manifest["features"]))
    for ident, want in sorted(manifest["features"].items()):
        base = os.path.join(out, "output", ident, ident)
        try:
            with open(base + ".geojson", encoding="utf-8") as f:
                n_json = len(json.load(f)["features"])
            n_shx = (os.path.getsize(base + ".shx") - 100) // 8
            for ext in (".shp", ".dbf", ".prj"):
                if not os.path.exists(base + ext):
                    problems.append(f"{ident}: no {ext}")
        except (OSError, ValueError, KeyError) as e:
            problems.append(f"{ident}: unreadable bundle ({e})")
            continue
        expect(f"{ident} geojson features", n_json, want)
        expect(f"{ident} shapefile records", n_shx, want)
    wf = manifest["windfarm_identifier"]
    with open(os.path.join(out, "output", wf, wf + ".shp"), "rb") as f:
        shape_type = struct.unpack("<i", f.read(36)[32:36])[0]
    expect("windfarm shape type (polygon)", shape_type, 5)

    # K5: the six-statement upsert left exactly the generated rows
    ups = manifest["upserts"]
    expect("upserted titles", sorted((int(i), t) for i, t in dump["resourcebase"]),
           sorted((int(pk), u["title"]) for pk, u in ups.items()))
    expect("layer eov links", sorted((int(a), int(b)) for a, b in dump["layer_eovs"]),
           sorted((int(pk), e) for pk, u in ups.items() for e in u["eovs"]))
    expect("contact roles", sorted((int(a), int(b), r) for a, b, r in dump["contacts"]),
           sorted((int(pk), u["contact"], "pointOfContact") for pk, u in ups.items() if u["contact"]))

    # E2: every backup link mapped to a thesaurus keyword
    tk = dump["tkeywords"]
    expect("keyword links", len(tk), manifest["links"])
    expect("mapped keyword links", sum(1 for _, k in tk if k is not None), manifest["mapped_links"])

    # E3: one statement per program
    expect("OBIS statements", sum(1 for f in glob.glob(os.path.join(out, "obis_sql", "part-*"))
                                  for _ in open(f, encoding="utf-8")), counts["combined"])
