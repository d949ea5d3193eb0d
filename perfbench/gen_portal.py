"""Seeded generator for every input the portal ETL reads, plus a manifest
of the results the ETL must produce, derived from the construction alone
(the program is never run to make it).

    python3 perfbench/gen_portal.py --seed 7 --out <dir> [--scale 1.0]

The file shapes follow FIXTURES.md: survey #4 (~200 columns, quoted
multiline fields), survey #2 (GeoJSON column, leading unnamed column),
EuroSea.xlsx (unnamed rows, (organisation, name) groups), the 20 site
CSVs of SpatialExport.siteCsvs (ragged Movebank rows, Latitude > 90),
the IMMA polygon bundle, 8 Finland point layers, the windfarm folder
(polygon and line layers), the Basque TSV, the WESPAS xlsx and
layers_layer_eovs.csv. `--scale` shrinks every row count together;
1.0 is the reference's size (371 survey records, 627 programs).
"""
import argparse
import json
import math
import os
import random
import struct
import unicodedata
import zipfile
from xml.sax.saxutils import escape

# --------------------------------------------------------------- constants
# Names the export branches key on (SpatialExport.scala).
SITE_CSVS = [  # (program name, file, lon column, lat column)
    ("Aleutian Islands Benthic Habitat Survey", "Aleutian Islands Benthic Habitat Survey.csv", "Longitude", "Latitude"),
    ("Australian continuous plankton recorder survey (AusCPR)", "Australian continuous plankton recorder survey (AusCPR).csv", "MID_LONGITUDE", "MID_LATITUDE"),
    ("Cetacean Research Program", "Cetacean Research Program.csv", "Longitude", "Latitude"),
    ("Diversity of the Indo-Pacific Network", "Diversity of the Indo-Pacific Network.csv", "Longitude", "Latitude"),
    ("eOceans", "eOceans.csv", "Longitude", "Latitude"),
    ("Estacion Costera de Investigaciones Marinas", "Estacion Costera de Investigaciones Marinas.csv", "Longitude", "Latitude"),
    ("Estación de Fotobiologia Playa Unión", "Estacion de Fotobiologia Playa Union.csv", "Longitude", "Latitude"),
    ("Global ARMS Program", "Global ARMS Program.csv", "Longitude", "Latitude"),
    ("IMOS ships of opportunity bioacoustics", "IMOS ships of opportunity bioacoustics.csv", "Longitude", "Latitude"),
    ("Marine Biodiversity and Climate Change", "Marine Biodiversity and Climate Change.csv", "Longitude", "Latitude"),
    ("Movebank", "Movebank.csv", "Longitude", "Latitude"),
    ("National Observatory System: Mammals as Ocean Samplers", "National Observatory System- Mammals as Ocean Samplers.csv", "Longitude", "Latitude"),
    ("Ocean Tracking Network", "Ocean Tracking Network.csv", "Longitude", "Latitude"),
    ("Reef Life Survey", "Reef Life Survey.csv", "Longitude", "Latitude"),
    ("SCAR Southern Ocean Continuous Plankton Recorder Survey", "SCAR Southern Ocean Continuous Plankton Recorder Survey.csv", "Longitude", "Latitude"),
    ("Service National d'Observation CORAIL", "Service National d_Observation CORAIL.csv", "Longitude", "Latitude"),
    ("Synoptic Intertidal Benthic Survey", "Synoptic Intertidal Benthic Survey.csv", "Longitude", "Latitude"),
    ("Tohoku National Fisheries Institute", "Tohoku National Fisheries Institute.csv", "Longitude", "Latitude"),
    ("Waddenmozaiek program", "Waddenmozaiek program.csv", "Longitude", "Latitude"),
    ("Zooplankton Sample Collectionof Fisheries Research Agency", "Zooplankton Sample Collectionof Fisheries Research Agency.csv", "Longitude", "Latitude"),
]
# reference row share per site CSV (56k rows in total at scale 1)
SITE_ROWS = [420, 9800, 610, 380, 2600, 150, 90, 260, 7400, 1300, 12000,
             3100, 5200, 3900, 4700, 240, 530, 310, 2700, 310]
IMMA = ("IUCN Marine Mammal Protected Areas Task Force",
        "eurosea_spatial/iucn-imma-layer-shapefile_v2.4/iucn-imma-fixed/iucn-imma_oct20-fixed")
FIN_DIR = "eurosea_spatial/Finland/Finland biological monitoring stations/"
FINLAND = [("Marine breeding birds", "Breeding_seabirds"),
           ("Coastal waters soft bottom fauna", "Coastal_benthic_invertebrates"),
           ("Abundance and distribution of harbour porpoises", "Harbour_porpoise_detectors"),
           ("Coastal hard bottom macroalgae and blue mussel communities", "Macroalgae"),
           ("Offshore soft bottom macrozoobenthos", "Offshore_benthic_invertebrates"),
           ("Phytoplankton species composition and abundance", "Phytoplankton"),
           ("Sea trout", "Seatrout_rivers"),
           ("Zooplankton species composition and abundance", "Zooplankton")]
WINDFARM = ("Ecological impact monitoring offshore windfarms",
            "eurosea_spatial/Ecological impact monitoring offshore windfarms")
SPAIN = ("Basque monitoring network for the ecological status assessment",
         "eurosea_spatial/Spain/Basque monitoring network for the ecological status assessment.tsv")
WESPAS = ("Western European Shelf Pelagic Acoustic Survey (WESPAS)",
          "eurosea_spatial/WESPAS 2020_Positions.xlsx")

SURVEY4 = "4Updated_Spatial_Survey_420_8132020_FINAL_toshare.csv"
SURVEY2 = "2InfoDataProviderswoSpatialInfo_Final_420_7302020_FINAL_toshare.csv"

INITIAL_FREQ = ["Sub-daily", "Daily", "Monthly (12x per year)", "Quarterly (4x per year)",
                "2x per year", "1x per year", "1x every 2 to 5 years", "1x every 6-10 years",
                "1x every >10 years", "Opportunistically/highly irregular intervals"]
EUROSEA_FREQ = ["Annual", "Monthly", "Daily", "Quarterly", "2x per year", "Varies",
                "Every 3 years", "weekly", "Seasonal", "irregular cruises"]
IN_OBIS = ["No; none of the biological data collected by the network is included in OBIS",
           "Yes; less than half of the biological data collected by the network is included in OBIS",
           "Yes; all of the biological data collected by the network is included in OBIS",
           "I don't know if the biological data collected by the network is included in OBIS",
           ""]
# survey-4 EOV marker columns -> eov pk (Recodes.eovFlagColumns); Ocean_Sound has none
S4_EOVS = [("Birds", 5), ("Hard_Coral", 7), ("Fish", 3), ("Macroalgae", 9), ("Mangroves", 10),
           ("Microbes", 11), ("Ocean_Sound", None), ("Phytoplankton", 1), ("Seagrass", 8),
           ("Sea_Turtles", 4), ("Zooplankton", 2), ("Benthic_Invertebrate", 12),
           ("Marine_Mammals", 6)]
# EuroSea EOV headers -> eov pk
ES_EOVS = [("Microbes", 11), ("Phytoplankton", 1), ("Zooplankton", 2),
           ("Benthic invertebrates", 12), ("Fish", 3), ("Turtles", 4), ("Birds", 5),
           ("Mammals", 6), ("Hard coral", 7), ("Seagrass", 8), ("Macroalgae", 9),
           ("Mangrove", 10)]
EOV_SHORT = ["Phytoplankton", "Zooplankton", "Fish", "Turtles", "Birds", "Mammals",
             "Hard coral", "Seagrass", "Macroalgae", "Mangrove", "Microbes", "Invertebrates"]

WORDS = ("coastal benthic pelagic reef kelp plankton acoustic seabird turtle estuary "
         "mangrove seagrass shelf deep glider mooring transect survey network census "
         "monitoring ecology habitat biodiversity sentinel observatory trawl sonar").split()


# ------------------------------------------------------------- identifier
def make_identifier(name):
    """The identifier rule documented in the R reference (index.Rmd:353-371)."""
    punct = set('()":\',&/.;')
    s = "".join(c for c in name.lower() if c not in punct).strip()
    out, prev_sep = [], False
    for c in s:
        if c.isspace() or c in "-–—":
            if not prev_sep:
                out.append("_")
            prev_sep = True
        else:
            out.append(c)
            prev_sep = False
    s = unicodedata.normalize("NFD", "".join(out))
    s = "".join(c for c in s if not unicodedata.category(c).startswith("M") and ord(c) < 128)
    s = "".join(c for c in s if c not in punct)
    return s[:29] + s[-29:] if len(s) > 58 else s


# ------------------------------------------------------------------ writers
def csv_field(v):
    if v is None:
        return ""
    v = str(v)
    if any(c in v for c in ',"\n\r'):
        return '"' + v.replace('"', '""') + '"'
    return v


def write_csv(path, header, rows, sep=","):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(sep.join(csv_field(h) for h in header) + "\n")
        for r in rows:
            f.write(sep.join(csv_field(v) for v in r) + "\n")


def write_xlsx(path, header, rows):
    """Minimal SpreadsheetML workbook: shared strings for text, numbers inline."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    shared, index = [], {}

    def sidx(s):
        if s not in index:
            index[s] = len(shared)
            shared.append(s)
        return index[s]

    def col_ref(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    lines = []
    for ri, row in enumerate([header] + rows, start=1):
        cells = []
        for ci, v in enumerate(row):
            if v is None or v == "":
                continue
            ref = f"{col_ref(ci)}{ri}"
            if isinstance(v, (int, float)):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="s"><v>{sidx(v)}</v></c>')
        lines.append(f'<row r="{ri}">{"".join(cells)}</row>')
    sheet = ('<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
             f'<sheetData>{"".join(lines)}</sheetData></worksheet>')
    sst = ('<?xml version="1.0" encoding="UTF-8"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
           + "".join(f"<si><t>{escape(s)}</t></si>" for s in shared) + "</sst>")
    with zipfile.ZipFile(path, "w") as z:
        for name, body in (("xl/worksheets/sheet1.xml", sheet), ("xl/sharedStrings.xml", sst)):
            entry = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))  # byte-stable
            entry.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(entry, body)


def write_shapefile(base, shape_type, geoms, fields, records):
    """ESRI shapefile bundle. geoms: list of point (x, y) or list of parts
    (each a list of (x, y)); fields: [(name, type, len)]; records: rows."""
    os.makedirs(os.path.dirname(base), exist_ok=True)
    recs = []
    for g in geoms:
        if shape_type == 1:
            content = struct.pack("<idd", 1, g[0], g[1])
        else:
            pts = [p for part in g for p in part]
            xs, ys = [p[0] for p in pts], [p[1] for p in pts]
            content = struct.pack("<i4d2i", shape_type, min(xs), min(ys), max(xs), max(ys),
                                  len(g), len(pts))
            off = 0
            for part in g:
                content += struct.pack("<i", off)
                off += len(part)
            for x, y in pts:
                content += struct.pack("<2d", x, y)
        recs.append(content)
    allpts = geoms if shape_type == 1 else [p for g in geoms for part in g for p in part]
    bbox = (min(p[0] for p in allpts), min(p[1] for p in allpts),
            max(p[0] for p in allpts), max(p[1] for p in allpts)) if allpts else (0, 0, 0, 0)

    def header(length_words):
        return (struct.pack(">7i", 9994, 0, 0, 0, 0, 0, length_words)
                + struct.pack("<2i4d4d", 1000, shape_type, *bbox, 0, 0, 0, 0))

    body, shx, off = b"", b"", 50
    for i, c in enumerate(recs, start=1):
        body += struct.pack(">2i", i, len(c) // 2) + c
        shx += struct.pack(">2i", off, len(c) // 2)
        off += 4 + len(c) // 2
    with open(base + ".shp", "wb") as f:
        f.write(header(50 + len(body) // 2) + body)
    with open(base + ".shx", "wb") as f:
        f.write(header(50 + len(shx) // 2) + shx)
    rec_len = 1 + sum(fl for _, _, fl in fields)
    dbf = struct.pack("<B3BIHH20x", 3, 120, 1, 1, len(records), 32 + 32 * len(fields) + 1, rec_len)
    for name, ftype, flen in fields:
        dbf += struct.pack("<11sc4xBB14x", name.encode("latin-1"), ftype.encode(), flen, 0)
    dbf += b"\r"
    for r in records:
        dbf += b" " + b"".join(str(v if v is not None else "").encode("utf-8")[:flen].ljust(flen)
                               for v, (_, _, flen) in zip(r, fields))
    dbf += b"\x1a"
    with open(base + ".dbf", "wb") as f:
        f.write(dbf)
    with open(base + ".prj", "w") as f:
        f.write('GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],'
                'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]')


def ring(cx, cy, r, n=6):
    """Closed clockwise ring (shapefile outer-ring orientation)."""
    pts = [(round(cx + r * math.cos(-2 * math.pi * k / n), 5),
            round(cy + r * math.sin(-2 * math.pi * k / n), 5)) for k in range(n)]
    return pts + [pts[0]]


# ------------------------------------------------------------------ main
def generate(seed, out, scale=1.0):
    rng = random.Random(seed)

    def n_of(x, lo=1):
        return max(lo, int(round(x * scale)))

    def words(k):
        return " ".join(rng.choice(WORDS) for _ in range(k))

    n_initial = n_of(371, 40)
    n_groups = n_of(256, 24)
    special_es = [IMMA[0]] + [n for n, _ in FINLAND] + [WINDFARM[0], SPAIN[0], WESPAS[0]]

    # ---- program names: unique generated names plus the branch names
    used = set()

    def fresh_name():
        while True:
            nm = f"{words(2).title()} {rng.choice(['Programme', 'Survey', 'Network', 'Monitoring'])} {rng.randint(1, 9999)}"
            if make_identifier(nm) not in used:
                used.add(make_identifier(nm))
                return nm

    for n in [s[0] for s in SITE_CSVS] + special_es:
        used.add(make_identifier(n))
    initial_names = [s[0] for s in SITE_CSVS]
    initial_names += [fresh_name() for _ in range(n_initial - len(initial_names))]
    rng.shuffle(initial_names)
    # eurosea group keys (organisation, name); a few reuse initial names so
    # identifiers collide across sources and make-unique suffixes apply
    orgs = [f"{rng.choice(WORDS).title()} Institute {k}" for k in range(max(4, n_groups // 6))]
    group_keys = [(rng.choice(orgs), n) for n in special_es]
    group_keys.append((None, fresh_name()))  # null organisation sorts last
    collide = [n for n in initial_names if n != "Reef Life Survey"][: max(3, n_groups // 25)]
    group_keys += [(rng.choice(orgs), n) for n in collide]
    group_keys += [(orgs[0], "Reef Life Survey")]
    while len(group_keys) < n_groups:
        k = (rng.choice(orgs + [None]), fresh_name())
        group_keys.append(k)
    # same name under two organisations: two groups, one identifier
    group_keys[-1] = (orgs[1], group_keys[-2][1]) if group_keys[-2][0] != orgs[1] else (orgs[2], group_keys[-2][1])
    assert len(set(group_keys)) == len(group_keys)

    # ---- survey 4 (371 records, ~200 columns, multiline quoting)
    filler = [f"Q{k}_{rng.choice(WORDS)}" for k in range(180)]
    s4_header = (["prog_name", "prog_abbrev", "prog_url", "duration_start_year",
                  "duration_end_year", "freq_interval", "In_OBIS", "Interest_OBIS"]
                 + [c for c, _ in S4_EOVS] + filler)
    s4_rows, programs = [], []
    lines_per_record = max(1, int(36181 / 371) - 1)
    for i, name in enumerate(initial_names):
        eov_marks = [("x" if rng.random() < 0.3 else "") for _ in S4_EOVS]
        start = rng.choice(["", "1998", "2005", "2012", "ongoing", "NA"])
        row = [name, name.split()[0][:6].upper(), f"https://example.org/p/{i}", start,
               rng.choice(["", "2020", "present", "2030"]), rng.choice(INITIAL_FREQ + ["Other"]),
               rng.choice(IN_OBIS), rng.choice(["Yes", "No", ""])] + eov_marks
        long_cells = rng.sample(range(len(filler)), 4)
        for k in range(len(filler)):
            if k in long_cells:
                row.append("\n".join(f'{words(5)}, "{rng.choice(WORDS)}"' for _ in range(lines_per_record // 4)))
            else:
                row.append(rng.choice(["", words(2), str(rng.randint(0, 99))]))
        s4_rows.append(row)
        eovs = {pk for (c, pk), m in zip(S4_EOVS, eov_marks) if m and pk}
        if name == "Aleutian Islands Benthic Habitat Survey":
            eovs.add(12)  # F5 point fix (index.Rmd:127)
        programs.append({"name": name, "source": "initial", "eovs": eovs, "email": None,
                         "geo_features": 0, "branch": None})
    write_csv(os.path.join(out, SURVEY4), s4_header, s4_rows)

    # ---- survey 2: GeoJSON + contacts for a subset of survey-4 names
    site_names = {s[0] for s in SITE_CSVS}
    emails = [f"contact{k}@example.org" for k in range(max(8, int(n_initial * 0.6)))]
    s2_rows = []
    for p in programs:
        if rng.random() < 0.15:
            continue
        geo, nfeat = "", 0
        if p["name"] not in site_names:
            kind = rng.choice(["point", "mpoly", "line", "fc", "fc_mixed", "null", "", ""])
            lon, lat = round(rng.uniform(-170, 170), 4), round(rng.uniform(-60, 70), 4)
            if kind == "point":
                geo, nfeat = json.dumps({"type": "Point", "coordinates": [lon, lat]}), 1
            elif kind == "mpoly":
                geo, nfeat = json.dumps({"type": "MultiPolygon", "coordinates": [
                    [[list(q) for q in ring(lon, lat, 0.5)]],
                    [[list(q) for q in ring(lon + 2, lat, 0.3)]]]}), 1
            elif kind == "line":
                geo, nfeat = json.dumps({"type": "LineString", "coordinates": [
                    [lon, lat], [lon + 1, lat + 0.5], [lon + 2, lat + 0.25]]}), 1
            elif kind in ("fc", "fc_mixed"):
                k = rng.randint(2, 6)
                feats = [{"type": "Feature", "properties": {},
                          "geometry": {"type": "Point", "coordinates": [lon + j, lat]}} for j in range(k)]
                if kind == "fc_mixed":  # mixed types: the export skips it
                    feats.append({"type": "Feature", "properties": {}, "geometry": {
                        "type": "LineString", "coordinates": [[lon, lat], [lon + 1, lat + 1]]}})
                else:
                    nfeat = k
                geo = json.dumps({"type": "FeatureCollection", "features": feats})
            elif kind == "null":
                geo = "null"
        p["geo_features"] = nfeat
        has_contact = rng.random() < 0.85
        email = rng.choice(emails) if has_contact else ""
        p["email"] = email or None
        s2_rows.append([str(len(s2_rows) + 1), geo, p["name"], rng.choice(["Ana", "Ben", "Chen", "Dara"]) if has_contact else "",
                        rng.choice(["Silva", "Okafor", "Nguyen", "Berg"]) if has_contact else "", email]
                       + [words(1) for _ in range(20)])
    write_csv(os.path.join(out, SURVEY2),
              ["", "ErinSpatialGeoJSON", "prog_name", "resp_firstname", "resp_lastname", "resp_email"]
              + [f"extra_{k}" for k in range(20)], s2_rows)

    # ---- EuroSea.xlsx: groups spread over rows, 3 unnamed rows
    es_header = ["No", "Country", "Organisation", "Program name", "Programs/Location", "Time period",
                 "Frequency", "SOP/BP"] + [h for h, _ in ES_EOVS] + ["Lat", "Lon", "Regional coordination", "Website"]
    n_rows = max(n_of(370, n_groups + 3), n_groups + 3)
    assign = list(range(n_groups)) + [rng.randrange(n_groups) for _ in range(n_rows - 3 - n_groups)]
    rng.shuffle(assign)
    es_rows, group_eovs, group_pts = [], [set() for _ in group_keys], [set() for _ in group_keys]
    for g in assign + [None, None, None]:
        org, name = group_keys[g] if g is not None else (rng.choice(orgs), None)
        marks = ["x" if rng.random() < 0.25 else ("" if rng.random() < 0.8 else "-") for _ in ES_EOVS]
        lat = rng.choice([round(rng.uniform(35, 70), 3), round(rng.uniform(35, 70), 3), "", "N/A"])
        lon = rng.choice([round(rng.uniform(-20, 30), 3), round(rng.uniform(-20, 30), 3), ""])
        if g is not None:
            group_eovs[g] |= {pk for (_, pk), m in zip(ES_EOVS, marks) if m == "x"}
            if isinstance(lat, float) and isinstance(lon, float):
                group_pts[g].add((lon, lat))
        es_rows.append([len(es_rows) + 1, rng.choice(["Norway", "Spain", "Finland", "Belgium"]), org or "",
                        name or "", words(2), rng.choice(["1979-current", "2006-current", "2015", "n/a"]),
                        rng.choice(EUROSEA_FREQ), ""] + marks + [lat, lon, "",
                        rng.choice(["", f"https://example.eu/{len(es_rows)}"])])
    write_xlsx(os.path.join(out, "EuroSea.xlsx"), es_header, es_rows)

    # eurosea programs in bind order: non-null organisations first, sorted by
    # (organisation, name) bytes, then null organisations by name
    order = sorted(range(n_groups), key=lambda g: (group_keys[g][0] is None,
                                                    (group_keys[g][0] or "").encode(),
                                                    group_keys[g][1].encode()))
    special_set = set(special_es)
    for g in order:
        org, name = group_keys[g]
        programs.append({"name": name, "source": "eurosea", "eovs": group_eovs[g], "email": None,
                         "geo_features": 1 if group_pts[g] and name not in special_set else 0,
                         "branch": None})

    # ---- site CSVs
    site_features = {}
    total_site = sum(SITE_ROWS)
    for (name, fname, lonc, latc), share in zip(SITE_CSVS, SITE_ROWS):
        n = n_of(share * 56000 / total_site, 5)
        path = os.path.join(out, "largeCSVsites_final", fname)
        if name == "Movebank":
            header = ["event_id", "Longitude", "Latitude", "tag"] + [f"c{k}" for k in range(22)]
        elif lonc == "MID_LONGITUDE":
            header = ["TRIP_CODE", "MID_LATITUDE", "MID_LONGITUDE", "MID_TIME_UTC1", "X5", "Latitude", "Longitude"]
        else:
            header = ["SiteCode", "Site.Name", "Latitude", "Longitude", "Country", "surveys"]
        rows, kept = [], 0
        for k in range(n):
            lat = round(rng.uniform(-80, 89.9), 4) if k % 37 else 91.5  # Latitude > 90 is dropped
            lon = round(rng.uniform(-179, 179), 4)
            kept += lat <= 90
            if name == "Movebank":
                r = [k, lon, lat, f"tag{k % 50}"] + [words(1) for _ in range(22)]
                if k % 11 == 0:
                    r += ["ragged", "extra"]  # more fields than the header
            elif lonc == "MID_LONGITUDE":
                r = [f"T{k}", lat, lon, "2019-01-01T00:00:00Z", "", lat, lon]
            else:
                r = [f"S{k}", words(2), lat, lon, rng.choice(["AU", "US", "JP", "FR"]), rng.randint(1, 40)]
            rows.append(r)
        write_csv(path, header, rows)
        site_features[name] = kept

    # ---- IMMA polygons (159 features) + Finland points + windfarm mix
    n_imma = n_of(159, 10)
    imma_geoms = [[ring(rng.uniform(-150, 150), rng.uniform(-50, 50), rng.uniform(0.2, 2))] for _ in range(n_imma)]
    write_shapefile(os.path.join(out, IMMA[1]), 5, imma_geoms,
                    [("Title", "C", 40), ("Identcode", "C", 12), ("Region", "C", 20)],
                    [[f"IMMA {k} {words(2)}", f"IM{k:04d}", rng.choice(["Pacific", "Atlantic"])] for k in range(n_imma)])
    fin_features = {}
    for name, base in FINLAND:
        n = n_of(rng.randint(40, 140), 5)
        write_shapefile(os.path.join(out, FIN_DIR + base), 1,
                        [(round(rng.uniform(20, 30), 5), round(rng.uniform(59, 66), 5)) for _ in range(n)],
                        [("OBJECTID", "N", 8), ("Merialue", "C", 24), ("Asema", "C", 16)],
                        [[k + 1, "Selkämeri", f"AS{k}"] for k in range(n)])
        fin_features[name] = n
    windfarm_polys = 0
    layers = [("Belwind", 5, 1), ("C-Power", 5, 3), ("Northwind", 3, 2), ("Cables", 3, 4), ("Nobelwind", 5, 2)]
    for k, (lname, st, n) in enumerate(layers):
        if st == 5:
            geoms = [[ring(2.8 + k * 0.1 + j * 0.01, 51.6, 0.02)] for j in range(n)]
            windfarm_polys += n
        else:
            geoms = [[[(2.8 + j * 0.01, 51.5), (2.9 + j * 0.01, 51.55), (3.0, 51.6)]] for j in range(n)]
        write_shapefile(os.path.join(out, WINDFARM[1], lname, f"{lname}_concession_wgs84"), st, geoms,
                        [("Id", "N", 6), ("ET_ID", "C", 12)], [[j, f"{lname[:4]}{j}"] for j in range(n)])

    # ---- Basque TSV (UTM 30N metres), WESPAS track
    n_tsv = n_of(140, 5)
    write_csv(os.path.join(out, SPAIN[1]), ["x", "y", "station"],
              [[rng.randint(500000, 600000), rng.randint(4780000, 4820000), f"B{k}"] for k in range(n_tsv)], sep="\t")
    n_wes = n_of(300, 5)
    write_xlsx(os.path.join(out, WESPAS[1]), ["Lon", "Lat", "Time"],
               [[round(-12 + k * 0.01, 4), round(52 + k * 0.005, 4), f"t{k}"] for k in range(n_wes)])

    # ---- layers_layer_eovs.csv (1,440 links) + GeoNode API payloads
    n_links = n_of(1440, 60)
    links = [[100 + k // 3, rng.randint(1, 12)] for k in range(n_links)]
    write_csv(os.path.join(out, "layers_layer_eovs.csv"), ["layer_id", "eov_id", "short_name"],
              [[a, b, EOV_SHORT[b - 1]] for a, b in links])
    tkeywords = [{"id": 500 + k, "alt_label": s, "about": f"https://geonode.goosocean.org/thesaurus/eov/{k}"}
                 for k, s in enumerate(EOV_SHORT)]
    tkeywords += [{"id": 900 + k, "alt_label": s, "about": "https://example.org/other"} for k, s in enumerate(EOV_SHORT[:3])]

    # ---- derived results, by construction
    for i, p in enumerate(programs, start=1):
        p["id"] = i
        p["base_identifier"] = make_identifier(p["name"])
    seen = {}
    for p in programs:
        k = seen.get(p["base_identifier"], 0)
        p["identifier"] = p["base_identifier"] if k == 0 else f"{p['base_identifier']}_{k}"
        seen[p["base_identifier"]] = k + 1
    dup_rows = sum(1 for p in programs if seen[p["base_identifier"]] > 1)
    user_pk, next_pk = {}, 2001
    for p in programs:
        if p["email"] and p["email"] not in user_pk:
            user_pk[p["email"]] = next_pk
            next_pk += 1
    features = {}
    for p in programs:  # branch precedence of SpatialExport.run
        n = p["geo_features"] if p["geo_features"] else None
        if p["name"] in site_features and n is None:
            n = site_features[p["name"]]
        if p["name"] == WINDFARM[0]:
            n = windfarm_polys
        if p["name"] == IMMA[0]:
            n = n_imma
        if p["name"] in fin_features:
            n = fin_features[p["name"]]
        if p["name"] == SPAIN[0]:
            n = n_tsv
        if p["name"] == WESPAS[0]:
            n = 1
        features[p["identifier"]] = n
    missing = sum(1 for v in features.values() if v is None)
    layer_rows = []
    for p in programs:
        if rng.random() < 0.8:
            layer_rows.append({"pk": str(10000 + p["id"]), "name": p["identifier"]})
    layer_pk = {r["name"]: int(r["pk"]) for r in layer_rows}
    with open(os.path.join(out, "api_layers.json"), "w") as f:
        json.dump({"layers": layer_rows}, f)
    with open(os.path.join(out, "api_tkeywords.json"), "w") as f:
        json.dump({"total": len(tkeywords), "tkeywords": tkeywords}, f)

    upserts = {}
    for p in programs:
        pk = layer_pk.get(p["identifier"])
        if pk is not None:
            upserts[str(pk)] = {"title": p["name"], "eovs": sorted(p["eovs"]),
                                "contact": user_pk.get(p["email"])}
    manifest = {
        "seed": seed, "scale": scale,
        "counts": {"initial": n_initial, "eurosea_raw": len(assign), "eurosea": n_groups,
                   "combined": len(programs), "users": len(user_pk),
                   "duplicates": dup_rows, "missing_spatial": missing},
        "identifiers": [p["identifier"] for p in programs],
        "features": {k: (v or 0) for k, v in features.items()},
        "windfarm_identifier": next(p["identifier"] for p in programs if p["name"] == WINDFARM[0]),
        "upserts": upserts,
        "links": n_links,
        "mapped_links": n_links,
        "layer_pks": len(layer_rows),
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    m = generate(a.seed, a.out, a.scale)
    print(json.dumps(m["counts"]))
