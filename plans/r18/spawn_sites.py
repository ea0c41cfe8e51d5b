"""Count the process spawns (jdk.ProcessStart events) in a JFR recording,
by command and by call site.

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr,settings=default" \
        python3 perfbench/run.py --workload fads_paced --seed 11 --seconds 20 --trace 0
    python3 plans/r18/spawn_sites.py run.jfr

The default JFR settings record jdk.ProcessStart with a 64-frame stack. The
call site is the first Spark frame above the spawn and the first frame above
that outside the file layer (Hadoop, the checkpoint managers, Jackson, the
JDK and Scala). State-store files are written on the pool threads of Spark's
ChecksumCheckpointFileManager, whose stacks end in the pool; those are
labelled by thread.
"""
import collections
import json
import subprocess
import sys

SKIP = ("java.", "jdk.", "sun.", "scala.", "org.apache.hadoop.", "com.fasterxml.", "org.json4s.",
        "org.apache.spark.sql.execution.streaming.checkpointing.", "org.apache.spark.util.Utils",
        "org.apache.spark.network.util.JavaUtils")


def site(frames):
    names = [f["method"]["type"]["name"].replace("/", ".").split("$")[0] + "." + f["method"]["name"]
             for f in frames]
    first = next((n for n in names if n.startswith(("org.apache.spark", "org.rocksdb", "graft", "perfbench"))), "?")
    caller = next((n for n in names if not n.startswith(SKIP)), "?")
    return first, caller


def main(path):
    raw = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64", "--events", "jdk.ProcessStart", path],
                         capture_output=True, text=True, check=True).stdout
    events = json.loads(raw)["recording"]["events"]
    by_cmd, by_site = collections.Counter(), collections.Counter()
    for e in events:
        v = e["values"]
        cmd = v["command"].split()[0].split("/")[-1]
        by_cmd[cmd] += 1
        first, caller = site(v["stackTrace"]["frames"] if v.get("stackTrace") else [])
        if caller == "?" and v.get("eventThread"):
            caller = "thread " + v["eventThread"]["javaName"].rsplit("-", 1)[0]
        by_site[(cmd, first, caller)] += 1
    print("total process spawns:", len(events))
    for c, n in by_cmd.most_common():
        print("%6d  %s" % (n, c))
    print("\nby call site (command | spawning Spark frame | first caller outside the file layer):")
    for (c, f, s), n in by_site.most_common():
        print("%6d  %-8s | %s | %s" % (n, c, f, s))


if __name__ == "__main__":
    main(sys.argv[1])
