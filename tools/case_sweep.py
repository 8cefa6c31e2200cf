#!/usr/bin/env python3
"""Case-mapping sweep: Spark's lower/upper with ICU on and off, against DuckDB.

Maps every Unicode scalar value (U+0000..U+10FFFF minus the surrogates,
1,112,064 code points) through Spark's own `CollationSupport.Lower/Upper`
for the UTF8_BINARY collation twice, with ICU (the
`spark.sql.icu.caseMappings.enabled=true` path) and without it (the JVM's
`String` case mapping, what GraftSession sets), and through DuckDB's
`lower`/`upper` (the oracle). Prints how many code points each pair
disagrees on, a few examples, and the code points where ICU matches DuckDB
and the JVM does not (the only ones where turning ICU off could lose
oracle parity).

Usage: python3 tools/case_sweep.py [sparkJarsDir=$SPARK_HOME/jars]
Needs a JDK 17+ `java` (it runs a single-file Java source) and duckdb.
"""
import os, subprocess, sys, tempfile

import duckdb

JAVA = r"""
import org.apache.spark.sql.catalyst.util.CollationSupport;
import org.apache.spark.unsafe.types.UTF8String;

public class CaseSweep {
  static String hex(UTF8String u) {
    StringBuilder b = new StringBuilder();
    for (byte x : u.getBytes()) b.append(String.format("%02x", x & 0xff));
    return b.toString();
  }
  public static void main(String[] a) {
    System.out.println("# icu " + com.ibm.icu.util.VersionInfo.ICU_VERSION +
      " jdk " + System.getProperty("java.version") +
      " locale " + java.util.Locale.getDefault());
    StringBuilder out = new StringBuilder();
    for (int cp = 0; cp <= 0x10FFFF; cp++) {
      if (cp >= 0xD800 && cp <= 0xDFFF) continue;
      UTF8String u = UTF8String.fromString(new String(Character.toChars(cp)));
      out.append(cp).append('\t')
        .append(hex(CollationSupport.Lower.exec(u, 0, true))).append('\t')
        .append(hex(CollationSupport.Lower.exec(u, 0, false))).append('\t')
        .append(hex(CollationSupport.Upper.exec(u, 0, true))).append('\t')
        .append(hex(CollationSupport.Upper.exec(u, 0, false))).append('\n');
      if (out.length() > 1 << 20) { System.out.print(out); out.setLength(0); }
    }
    System.out.print(out);
    System.out.flush();
  }
}
"""


def spark_maps(jars):
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "CaseSweep.java")
        with open(src, "w") as f:
            f.write(JAVA)
        out = subprocess.run(["java", "-cp", os.path.join(jars, "*"), src],
                             check=True, capture_output=True, text=True).stdout
    lines = out.splitlines()
    header = lines[0]
    rows = {}
    for ln in lines[1:]:
        cp, *maps = ln.split("\t")
        rows[int(cp)] = [bytes.fromhex(m).decode("utf-8") for m in maps]
    return header, rows


def duck_maps():
    con = duckdb.connect()
    rows = con.sql(
        "SELECT cp, lower(chr(cp::INTEGER)), upper(chr(cp::INTEGER)) "
        "FROM range(0, 1114112) t(cp) "
        "WHERE cp < 55296 OR cp > 57343").fetchall()
    return {cp: (lo, up) for cp, lo, up in rows}


def main():
    jars = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.environ["SPARK_HOME"], "jars")
    header, spark = spark_maps(jars)
    duck = duck_maps()
    assert len(spark) == len(duck) == 1112064, (len(spark), len(duck))
    print(header.lstrip("# "), "| duckdb", duckdb.__version__)
    for i, fn in enumerate(["lower", "upper"]):
        icu = {cp: m[2 * i] for cp, m in spark.items()}
        jvm = {cp: m[2 * i + 1] for cp, m in spark.items()}
        ref = {cp: d[i] for cp, d in duck.items()}
        pairs = [("icu vs jvm", icu, jvm), ("icu vs duckdb", icu, ref),
                 ("jvm vs duckdb", jvm, ref)]
        for name, x, y in pairs:
            diff = sorted(cp for cp in x if x[cp] != y[cp])
            show = " ".join(f"U+{cp:04X}" for cp in diff[:8])
            print(f"{fn}: {name}: {len(diff)} code points  {show}")
        lost = sorted(cp for cp in icu if icu[cp] == ref[cp] != jvm[cp])
        print(f"{fn}: icu matches duckdb, jvm does not: {len(lost)}")


if __name__ == "__main__":
    main()
