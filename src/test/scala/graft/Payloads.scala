package graft

import org.scalatest.Assertions

/** Where the ingest specs read single-sensor API payloads from
  * (FIXTURES.md §1).
  *
  * [[fixtureDir]] holds three synthetic payloads committed with the tests,
  * one per hardware variant; specs whose assertions hold for any
  * well-formed reading of a variant read these. Specs that assert facts
  * about the real readings (a sensor index, a July 2022 temperature) read
  * the reference's own samples in [[ReferenceSamples]] and cancel, naming
  * that directory, where it is absent. */
object Payloads {

  /** `src/test/resources/payloads/`, resolved from the test classpath. It
    * holds only the three payload files: the replay fetcher replays every
    * `*.json` in it. */
  lazy val fixtureDir: String = {
    val url = getClass.getResource("/payloads")
    require(url != null, "payloads/ missing from the test classpath")
    new java.io.File(url.toURI).getPath
  }

  /** `stats` and `stats_a` but no `stats_b`; no `_b` measures, no
    * environmental fields. */
  def singleChannel: String = s"$fixtureDir/single_channel.json"
  /** `stats`, `stats_a` and `stats_b`: both channels' measures. */
  def dualChannel: String = s"$fixtureDir/dual_channel.json"
  /** Every catalog field present, per-channel environmental triplets and
    * the `last_seen` / `last_modified` / `date_created` epochs included. */
  def dualChannelFullEnv: String = s"$fixtureDir/dual_channel_full_env.json"

  /** The reference's three real hardware-variant payloads. */
  val ReferenceSamples = "/root/reference/hardware_variant_json_samples"

  /** Cancels the calling test unless [[ReferenceSamples]] is present. */
  def assumeReferenceSamples(): Unit =
    Assertions.assume(new java.io.File(ReferenceSamples).isDirectory,
      s"needs the reference payload samples in $ReferenceSamples")
}
