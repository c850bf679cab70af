#!/usr/bin/env bash
# Count the child processes a command's JVMs fork for file-system calls.
#
#   tools/fork_census.sh <cmd> [args...]
#   tools/fork_census.sh python3 perfbench/run.py --workload pubsub --seed 1 --seconds 15 --trace 0
#
# Puts logging wrappers for chmod, readlink, ls and stat first on PATH (Hadoop's
# local file system runs these through Shell.execCommand when libhadoop is
# absent), runs the command, and prints the wrapped calls by command, by parent
# process and by command + path shape (digit runs -> N, UUIDs -> <uuid>, last
# two path components kept). The command's own output goes to stderr, so the
# census is the only stdout. Exits with the command's status.
set -u
if [ $# -eq 0 ]; then
  sed -n '2,12p' "$0" | sed 's/^# \{0,1\}//' >&2
  exit 2
fi

dir=$(mktemp -d "${TMPDIR:-/tmp}/fork_census.XXXXXX")
trap 'rm -rf "$dir"' EXIT
mkdir -p "$dir/bin" "$dir/parents"
for c in chmod readlink ls stat; do
  real=$(command -v "$c") || { echo "fork_census: no $c on PATH" >&2; exit 2; }
  # one log line per call: command, parent pid, arguments; the parent's
  # command line is saved once per pid (cat and printf are not wrapped)
  cat > "$dir/bin/$c" <<EOF
#!/bin/sh
[ -e "$dir/parents/\$PPID" ] || cat /proc/\$PPID/cmdline > "$dir/parents/\$PPID" 2>/dev/null
printf '%s\t%s\t%s\n' "$c" "\$PPID" "\$*" >> "$dir/calls.log"
exec "$real" "\$@"
EOF
  chmod +x "$dir/bin/$c"
done
: > "$dir/calls.log"

PATH="$dir/bin:$PATH" "$@" >&2
status=$?

python3 - "$dir" <<'EOF'
import collections, os, re, sys

d = sys.argv[1]

def parent(pid):
    """The parent's main class for a JVM, else its program name."""
    try:
        argv = open(os.path.join(d, "parents", pid), "rb").read().decode(errors="replace").split("\0")
    except OSError:
        return "pid " + pid
    argv = [a for a in argv if a]
    if not argv:
        return "pid " + pid
    prog = os.path.basename(argv[0])
    if prog == "java":
        it = iter(argv[1:])
        for a in it:
            if a in ("-cp", "-classpath", "--class-path", "--add-opens", "--add-exports"):
                next(it, None)
            elif a == "-jar":
                return "java -jar " + os.path.basename(next(it, ""))
            elif not a.startswith("-"):
                return "java " + a
    return prog

def shape(args):
    paths = [a for a in args.split(" ") if "/" in a]
    if not paths:
        return "-"
    p = "/".join(paths[-1].rstrip("/").split("/")[-2:])
    p = re.sub(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>", p)
    return re.sub(r"\d+", "N", p)

calls = [l.rstrip("\n").split("\t", 2) for l in open(os.path.join(d, "calls.log")) if l.strip()]
by_cmd = collections.Counter(c for c, _, _ in calls)
by_parent = collections.Counter((parent(pid), c) for c, pid, _ in calls)
by_shape = collections.Counter((c, shape(a)) for c, _, a in calls)

print(f"fork census: {len(calls)} wrapped calls")
print("by command:")
for c in ("chmod", "readlink", "ls", "stat"):
    print(f"  {c:<9}{by_cmd.get(c, 0):>8}")
print("by parent and command:")
for (p, c), n in by_parent.most_common():
    print(f"  {n:>8}  {c:<9}{p}")
print("by command and path shape (top 30):")
for (c, s), n in by_shape.most_common(30):
    print(f"  {n:>8}  {c:<9}{s}")
EOF
exit $status
