"""Execution-level SPARQL fuzz: whole-grammar member soup (patterns,
property paths, OPTIONAL, [NOT] EXISTS, MINUS, UNION, VALUES, GRAPH,
subqueries, BIND, FILTER builtins) over all four query forms, each
case EXECUTED against a small in-memory graph. Allowed outcomes: a
result, or a typed SparqlSyntaxError / SparqlUnsupportedError /
ValueError. Anything else (raw AnalysisException, Py4J error) is a
finding — the bug class this harness caught in round 5 (never-bound
variables leaking UNRESOLVED_COLUMN out of sparql_query).

    python scripts/fuzz_sparql_exec.py [N_CASES] [SEED]

One line per case: its index and its outcome, which is ``rows`` plus the
sha256 prefix of the sorted result rows (``ask`` plus the bool for ASK),
the typed exception's class name, or ``finding``. The totals come last,
so two checkouts run with the same N and seed diff case by case.

A bounded 60-case variant runs in the suite
(tests/test_sparql.py::test_compile_fuzz_typed_or_runs)."""
import hashlib, os, random, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
from jsonld_spark.operators.sparql import (
    sparql_query, SparqlSyntaxError, SparqlUnsupportedError)

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
EX = "http://example.org/"
rows = [(s, EX + p, o, g) for s, p, o, g in [
    ("d1", "lang", "en", "g1"), ("d2", "lang", "de", "g2"),
    ("d3", "lang", "en", "g1"), ("d1", "author", "alice", "g1"),
    ("d2", "author", "alice", "g2"), ("d3", "author", "bob", "g1"),
    ("d1", "cites", "d2", "g1"), ("d2", "cites", "d3", "g2"),
    ("d1", "score", "3", "g1"), ("d2", "score", "9", "g2"),
    ("alice", "level", "senior", "g1"), ("bob", "level", "junior", "g1")]]
t = spark.createDataFrame(
    rows, "subj string, pred string, obj_value string, graph string")

N = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
rng = random.Random(int(sys.argv[2]) if len(sys.argv) > 2 else 99)
VARS = ["?d", "?a", "?l", "?s", "?x", "?g"]
PREDS = ["ex:lang", "ex:author", "ex:cites", "ex:score", "ex:level"]
PATHS = ["ex:cites+", "ex:cites*", "(ex:cites/ex:lang)", "^ex:author",
         "(ex:lang|ex:author)", "!(ex:lang)", "ex:cites?"]
CONSTS = ["'en'", "'alice'", "'3'", "'senior'", "42"]

def term():
    return rng.choice(VARS + VARS + CONSTS)

def pat():
    p = rng.choice(PREDS + PREDS + PATHS)
    return f"{rng.choice(VARS)} {p} {term()} ."

def member(depth):
    r = rng.random()
    if depth > 2 or r < 0.30:
        return pat()
    if r < 0.40:
        return "OPTIONAL { %s }" % body(depth + 1)
    if r < 0.48:
        return "FILTER %sEXISTS { %s }" % (rng.choice(["", "NOT "]), body(depth + 1))
    if r < 0.54:
        return "MINUS { %s }" % body(depth + 1)
    if r < 0.60:
        return "{ %s } UNION { %s }" % (body(depth + 1), body(depth + 1))
    if r < 0.66:
        v = rng.choice(VARS)
        cells = " ".join(rng.choice(CONSTS + ["UNDEF"]) for _ in range(2))
        return "VALUES %s { %s }" % (v, cells)
    if r < 0.72:
        gterm = rng.choice(["<g1>", "<g2>", "?g"])
        return "GRAPH %s { %s }" % (gterm, " ".join(pat() for _ in range(rng.randrange(1,3))))
    if r < 0.78:
        return "{ SELECT %s WHERE { %s } }" % (rng.choice(VARS), pat())
    if r < 0.86:
        fn = rng.choice(["UCASE(%s)", "STRLEN(%s)", "LANG(%s)",
                         "DATATYPE(%s)", "MD5(%s)", "xsd:integer(%s)"])
        return "BIND(%s AS ?b%d)" % (fn % rng.choice(VARS), rng.randrange(9))
    if r < 0.94:
        e = rng.choice(["%s != %s", "%s = %s", "STRSTARTS(%s, %s)",
                        "REGEX(%s, %s)", "isIRI(%s) || %s = 'en'"])
        return "FILTER (%s)" % (e % (rng.choice(VARS), rng.choice(VARS + CONSTS)))
    return "FILTER (BOUND(%s))" % rng.choice(VARS)

def body(depth):
    return " ".join(member(depth) for _ in range(rng.randrange(1, 4)))

def query():
    r = rng.random()
    w = body(0)
    if r < 0.55:
        sel = "*" if rng.random() < 0.5 else " ".join(
            dict.fromkeys(rng.choice(VARS) for _ in range(2)))
        mods = ""
        if rng.random() < 0.3:
            v = rng.choice(VARS)
            mods = f" GROUP BY {v}"
            sel = f"{v} (COUNT(*) AS ?n)"
            if rng.random() < 0.5:
                mods += " HAVING (COUNT(*) >= 1)"
        if rng.random() < 0.3:
            mods += " ORDER BY %s" % rng.choice(VARS)
        if rng.random() < 0.3:
            mods += " LIMIT %d" % rng.randrange(1, 5)
        dst = "DISTINCT " if rng.random() < 0.3 else ""
        return f"SELECT {dst}{sel} WHERE {{ {w} }}{mods}"
    if r < 0.7:
        return f"ASK {{ {w} }}"
    if r < 0.85:
        return ("CONSTRUCT { %s ex:out %s } WHERE { %s }"
                % (rng.choice(VARS), rng.choice(VARS), w))
    return "DESCRIBE %s WHERE { %s }" % (rng.choice(VARS), w)

PFX = ("PREFIX ex: <%s> PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
       % EX)
ok = typed = 0
findings = []
for i in range(N):
    q = PFX + query()
    try:
        res = sparql_query(t, q)
        if isinstance(res, bool):
            outcome = f"ask {res}"
        else:
            got = sorted(repr(tuple(r)) for r in res.collect())
            digest = hashlib.sha256("\n".join(got).encode()).hexdigest()
            outcome = f"rows {digest[:12]}"
        ok += 1
    except (SparqlSyntaxError, SparqlUnsupportedError, ValueError) as exc:
        outcome = type(exc).__name__
        typed += 1
    except Exception as exc:
        outcome = "finding"
        findings.append((q, repr(exc)[:200]))
    print(f"{i}\t{outcome}", flush=True)
    if len(findings) >= 8:
        break
print(f"ok={ok} typed={typed} findings={len(findings)}")
for q, e in findings:
    print("----\n", q, "\n", e)
