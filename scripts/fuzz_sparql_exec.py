"""Execution-level SPARQL fuzz: whole-grammar member soup (patterns,
property paths, OPTIONAL, [NOT] EXISTS, MINUS, UNION, VALUES, GRAPH,
subqueries, BIND, FILTER builtins) over all four query forms, each
case EXECUTED against a small in-memory graph, one of whose ``ex:score``
values is not numeric. Expressions mix kinds (numbers, strings,
language-tagged strings, IRIs, booleans, variables, aggregates) in
comparisons, IN / NOT IN lists, ``+ - * /``, unary minus and ABS, in
FILTER, BIND, HAVING and ORDER BY. The forms cover every
solution modifier (GROUP BY with COUNT / SUM / MIN / MAX / AVG /
SAMPLE / GROUP_CONCAT, HAVING-only aggregates, ``(expr AS ?x)``,
ORDER BY ASC / DESC, LIMIT, OFFSET, a trailing VALUES, DISTINCT and
REDUCED), all-constant ASK (plain and path patterns, under GRAPH),
``DESCRIBE <iri> ...``, and CONSTRUCT with template blank nodes, over
a whole-group UNION too. Allowed outcomes: a
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
FACTS = [
    ("d1", "lang", "en", "g1"), ("d2", "lang", "de", "g2"),
    ("d3", "lang", "en", "g1"), ("d1", "author", "alice", "g1"),
    ("d2", "author", "alice", "g2"), ("d3", "author", "bob", "g1"),
    ("d1", "cites", "d2", "g1"), ("d2", "cites", "d3", "g2"),
    ("d1", "score", "3", "g1"), ("d2", "score", "9", "g2"),
    ("d3", "score", "n/a", "g1"),
    ("alice", "level", "senior", "g1"), ("bob", "level", "junior", "g1")]
rows = [(s, EX + p, o, g) for s, p, o, g in FACTS]
t = spark.createDataFrame(
    rows, "subj string, pred string, obj_value string, graph string")

N = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
rng = random.Random(int(sys.argv[2]) if len(sys.argv) > 2 else 99)
VARS = ["?d", "?a", "?l", "?s", "?x", "?g"]
PREDS = ["ex:lang", "ex:author", "ex:cites", "ex:score", "ex:level"]
PATHS = ["ex:cites+", "ex:cites*", "(ex:cites/ex:lang)", "^ex:author",
         "(ex:lang|ex:author)", "!(ex:lang)", "ex:cites?"]
CONSTS = ["'en'", "'alice'", "'3'", "'senior'", "42"]
LITS = CONSTS + ["-2", "2.5", "0", "true", "<d1>", "'en'@en",
                 "'7'^^xsd:integer"]
NODES = ["<d1>", "<d2>", "<d3>", "<alice>", "<bob>"]
AGGS = ["COUNT(*)", "COUNT(DISTINCT %s)", "SUM(%s)", "MIN(%s)", "MAX(%s)",
        "AVG(%s)", "SAMPLE(%s)", "GROUP_CONCAT(%s)",
        "GROUP_CONCAT(DISTINCT %s; SEPARATOR='|')"]

def arith(pool):
    r = rng.random()
    if r < 0.2:
        return "-" + rng.choice(pool)
    if r < 0.35:
        return "ABS(%s)" % rng.choice(pool)
    return "(%s %s %s)" % (rng.choice(pool), rng.choice("+-*/"),
                           rng.choice(pool))

def expr(pool):
    def side():
        return rng.choice([arith(pool), rng.choice(pool)])
    if rng.random() < 0.4:
        items = ", ".join(rng.choice(pool) for _ in range(rng.randrange(4)))
        return "%s %sIN (%s)" % (side(), rng.choice(["", "NOT "]), items)
    return "%s %s %s" % (side(), rng.choice(["=", "!=", "<", ">="]), side())

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
    if r < 0.83:
        fn = rng.choice(["UCASE(%s)", "STRLEN(%s)", "LANG(%s)",
                         "DATATYPE(%s)", "MD5(%s)", "xsd:integer(%s)"])
        return "BIND(%s AS ?b%d)" % (fn % rng.choice(VARS), rng.randrange(9))
    if r < 0.86:
        return "BIND(%s AS ?b%d)" % (arith(VARS + LITS), rng.randrange(9))
    if r < 0.90:
        return "FILTER (%s)" % expr(VARS + LITS)
    if r < 0.94:
        e = rng.choice(["%s != %s", "%s = %s", "STRSTARTS(%s, %s)",
                        "REGEX(%s, %s)", "isIRI(%s) || %s = 'en'"])
        return "FILTER (%s)" % (e % (rng.choice(VARS), rng.choice(VARS + CONSTS)))
    return "FILTER (BOUND(%s))" % rng.choice(VARS)

def body(depth):
    return " ".join(member(depth) for _ in range(rng.randrange(1, 4)))

def agg():
    return rng.choice(AGGS).replace("%s", rng.choice(VARS))

def const_pattern():
    # half the time a stored fact, so that ASK answers both ways
    if rng.random() < 0.5:
        s, p, o, _ = rng.choice(FACTS)
        return f"<{s}> ex:{p} '{o}' ."
    return "%s %s %s ." % (rng.choice(NODES), rng.choice(PREDS + PATHS),
                           rng.choice(NODES + CONSTS))

def select(w):
    v = rng.choice(VARS)
    sel = "*" if rng.random() < 0.5 else " ".join(
        dict.fromkeys(rng.choice(VARS) for _ in range(2)))
    if sel != "*" and rng.random() < 0.3:
        sel += " (UCASE(%s) AS ?u)" % rng.choice(VARS)
    mods = ""
    r = rng.random()
    if r < 0.3:
        mods = f" GROUP BY {v}"
        sel = f"{v} ({agg()} AS ?n)"
        if rng.random() < 0.3:
            sel += f" (STRLEN({v}) AS ?len)"
    elif r < 0.4:
        sel = f"({agg()} AS ?n)"
    if mods or r < 0.4:
        h = rng.random()
        if h < 0.3:
            mods += " HAVING (COUNT(*) >= 1)"
        elif h < 0.5:
            mods += " HAVING (%s != 'zzz')" % agg()
        elif h < 0.6:
            mods += " HAVING (?n != '0')"
        elif h < 0.8:
            mods += " HAVING (%s)" % expr(
                ["?n", v, "COUNT(*)", "SUM(?s)"] + LITS)
    if rng.random() < 0.3:
        mods += " ORDER BY %s" % rng.choice(
            VARS + ["DESC(%s)" % rng.choice(VARS), "ASC(%s)" % v,
                    "DESC(%s)" % arith([v] + LITS)])
    if rng.random() < 0.3:
        mods += " LIMIT %d" % rng.randrange(1, 5)
    if rng.random() < 0.15:
        mods += " OFFSET %d" % rng.randrange(0, 3)
    if rng.random() < 0.15:
        mods += " VALUES %s { %s }" % (rng.choice(VARS), " ".join(
            rng.choice(CONSTS + ["UNDEF"]) for _ in range(2)))
    dst = rng.choice(["", "", "DISTINCT ", "REDUCED "])
    return f"SELECT {dst}{sel} WHERE {{ {w} }}{mods}"

def query():
    r = rng.random()
    w = body(0)
    if r < 0.55:
        return select(w)
    if r < 0.7:
        if rng.random() < 0.4:
            w = " ".join(const_pattern() for _ in range(rng.randrange(1, 3)))
            if rng.random() < 0.3:
                w = "GRAPH %s { %s }" % (rng.choice(["<g1>", "<g2>"]), w)
        return f"ASK {{ {w} }}"
    if r < 0.85:
        s, o = rng.choice(VARS), rng.choice(VARS)
        tmpl = f"{s} ex:out {o}"
        if rng.random() < 0.4:
            tmpl = f"_:b ex:out {o} . _:b ex:of {s}"
        if rng.random() < 0.3:
            # a whole-group UNION whose branches bind the template's
            # variables, or some of them
            w = " UNION ".join("{ %s %s %s . }" % (
                s, rng.choice(PREDS + PATHS), rng.choice([o, term()]))
                for _ in range(2))
        return "CONSTRUCT { %s } WHERE { %s }" % (tmpl, w)
    if rng.random() < 0.3:
        return "DESCRIBE " + " ".join(rng.sample(NODES, rng.randrange(1, 3)))
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
