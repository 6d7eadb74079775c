package parquet_ingestor_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem with permissions and link status
 * resolved in-process.
 *
 * <p>Without libhadoop (the pyspark wheel never ships it),
 * {@link RawLocalFileSystem#setPermission} forks {@code chmod} for every
 * file, {@code .crc} sidecar and directory a write creates, and
 * {@link RawLocalFileSystem#getFileLinkStatus} forks {@code readlink} for
 * every path a {@code FileContext} rename checks (eight per streaming
 * checkpoint log entry). {@link Raw} applies the same permission bits
 * through {@code java.nio} and answers link status for non-links with
 * {@code getFileStatus}; sticky bits and real symlinks go to Hadoop's
 * forking code. Everything else, the {@code .crc} checksum layer
 * included, is Hadoop's own code.
 * Bind it to {@code file://} with {@code fs.file.impl} (FileSystem API)
 * and {@code fs.AbstractFileSystem.file.impl} = {@link Fs} (FileContext
 * API, used by streaming checkpoints).
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** RawLocalFileSystem whose setPermission and getFileLinkStatus do not fork. */
  public static class Raw extends RawLocalFileSystem {
    // OWNER_READ .. OTHERS_EXECUTE: mode bits 0400 down to 0001.
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      // java.nio has no sticky bit; leave that case to Hadoop's chmod.
      if (!permission.getStickyBit()) {
        short mode = permission.toShort();
        Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
        for (int i = 0; i < BITS.length; i++) {
          if ((mode & (0400 >> i)) != 0) {
            perms.add(BITS[i]);
          }
        }
        try {
          Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
          return;
        } catch (UnsupportedOperationException notPosix) {
          // not a POSIX filesystem: fall through to Hadoop's own path
        }
      }
      super.setPermission(p, permission);
    }

    /**
     * Hadoop's answer without the {@code readlink} fork. Hadoop runs
     * {@code readlink} on the path string; for a path that is not a
     * symlink (and for every qualified {@code file:/...} string, which
     * never names a file) the target is empty and it returns
     * {@code getFileStatus(f)}, a missing path raising the same
     * {@code FileNotFoundException}. A real symlink goes to Hadoop's code.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** FileContext twin of Hadoop's {@code LocalFs}, over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** Hadoop's {@code RawLocalFs} (package-private constructors) over {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      // as RawLocalFs: the OS validates local names
      return true;
    }
  }
}
