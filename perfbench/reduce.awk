# Word-count reducer for compat.pipe_job: sums the counts of each key over
# the unsorted partition stream and prints "word<TAB>sum".
BEGIN { FS = "\t" }
{ c[$1] += $2 }
END { for (k in c) printf "%s\t%d\n", k, c[k] }
