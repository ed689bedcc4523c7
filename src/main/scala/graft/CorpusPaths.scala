package graft

/** One root for every generated scaled corpus (gate 10×, pressure
  * 10×/100×, skew twins). Through round 12 these lived under `target/`,
  * which `sbt clean` and the between-session wipe both destroy — round
  * 12 paid the ~5–10 min rebuild several times over a single session.
  * `.scaled/` is inside the repo (nothing outside /root/repo may be
  * written) but OUTSIDE target/, gitignored, and keyed by copy count in
  * the directory name (a run with different `copies` can never silently
  * reuse a mismatched corpus — the BenchAtScale rule). Each builder's
  * own `_COMPLETE` marker still gates partial builds.
  *
  * Override with SPARK_GRAFT_CORPUS_ROOT (e.g. a scratch disk);
  * explicit outDir CLI args bypass this entirely, as before.
  */
object CorpusPaths {
  val root: String = sys.env.getOrElse("SPARK_GRAFT_CORPUS_ROOT", ".scaled")
  /** FK-consistent scaled corpus (ScaleCorpus; the gate's, and the one
    * BenchAtScale times). */
  def sfgate(copies: Int): String = s"$root/sfgate$copies"
  /** Head-heavy skew twin of sfgate (SkewCorpus). */
  def sfskew(copies: Int, headTag: String): String = s"$root/sfskew$copies$headTag"
}
