# Word-count mapper for compat.pipe_job: the reference mapper's rule
# (every non-alphanumeric byte is a separator, then lower-case), one
# "word<TAB>1" line per token.
{
    line = tolower($0)
    gsub(/[^a-z0-9]+/, " ", line)
    n = split(line, w, " ")
    for (i = 1; i <= n; i++) print w[i] "\t1"
}
